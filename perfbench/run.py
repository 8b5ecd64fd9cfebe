"""Extraction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_job --seed 1 --seconds 15 --trace 0

Runs from the root of a source checkout on a local[4] session. The last
stdout line is {"correct", "attempted", "failed", "metrics"}: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run (spans are printed on the line before it). Every
output the program produced is checked byte for byte against the
pure-Python extractor before the result is printed. End-to-end timings
are scaled to a nominal host speed (see hostspeed.py). Scratch files live
under ``.perfbench_work/`` in the checkout and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from greenocr_spark.session import build_session  # noqa: E402

from perfbench import children, verify  # noqa: E402
from perfbench.hostspeed import HostSpeed  # noqa: E402
from perfbench.procmem import tree_peak_rss_mb  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import TASKS, WORKLOADS, Run  # noqa: E402

MIN_ITERATIONS = 3


def declared_units(trace: bool) -> dict:
    """Metric name -> unit, as BENCHMARK.json at the checkout root declares
    them for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def start_session(work: str):
    """local[4] session whose scratch stays under `work`; Python workers
    import the program from this checkout."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = build_session(
        app_name="perfbench",
        master=f"local[{TASKS}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                # a fully committed heap keeps peak RSS from following
                # the collector's run-to-run heap sizing
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
                "-Xms2g -XX:+AlwaysPreTouch"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def measure(args) -> dict:
    tracer = Tracer(bool(args.trace))
    with verify.worker_pool(TASKS) as pool:
        speed = HostSpeed(pool, TASKS)
        speed.warm()
        run, wl, layers = _timed_part(args, tracer, speed)
        # every recorded output against the pure-Python extractor
        refs = verify.reference_many(run.pending, pool, TASKS)
    for b, want in zip(run.pending, refs):
        if b.got != want:
            run.failed += 1
            run.failures.append(b.label)
    for label in run.failures:
        print(f"byte-identity check failed: {label}", file=sys.stderr)

    scale = speed.scale()
    raw = {
        "setup_s": run.build_s + run.warmup_s + statistics.median(run.prep_s),
        "docs_per_s": wl.n / statistics.median(run.op_s),
    }
    if args.trace:
        metrics = dict(layers)
        metrics["session.build_s"] = run.build_s
        metrics["session.warmup_s"] = run.warmup_s
        metrics["trace.overhead_ms"] = 1e3 * (
            statistics.median(run.traced_op_s) - statistics.median(run.untraced_op_s)
        )
        metrics["trace.spans"] = len(tracer.spans)
        metrics["host.probe_s"] = statistics.median(speed.samples)
        print(json.dumps({"spans": tracer.dump()}))
    else:
        metrics = {
            "setup_s": raw["setup_s"] * scale,
            "docs_per_s": raw["docs_per_s"] / scale,
            "peak_rss_mb": run.peak_rss_mb,
        }
    print(
        f"{args.workload}: {len(run.op_s)} operations, "
        f"{run.attempted} checked, {run.failed} failed; host scale {scale:.3f} from "
        f"{len(speed.samples)} probes; unscaled "
        + " ".join(f"{k}={v:.4g}" for k, v in raw.items())
        + "; op_s samples "
        + " ".join(f"{x:.3f}" for x in run.op_s)
        + "; probe samples "
        + " ".join(f"{x:.3f}" for x in speed.samples),
        file=sys.stderr,
    )
    units = declared_units(args.trace)
    if set(metrics) != set(units):
        raise RuntimeError(f"measured {sorted(metrics)} but BENCHMARK.json declares {sorted(units)}")
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def _timed_part(args, tracer, speed):
    """Session, warm-up, the closed loop and (traced) the decomposition;
    the session and its scratch directory are gone when this returns."""
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    spark = None
    try:
        with tracer.span("session.build_session") as build:
            spark = start_session(work)
        run = Run(spark, work, args.seed, tracer, args.scale, speed)
        run.build_s = build.seconds
        wl = WORKLOADS[args.workload](run)
        with tracer.span("session.warmup") as warm:
            wl.warmup()
        run.warmup_s = warm.seconds

        # closed loop: the next operation starts after the previous one
        # returned and was checked; in a traced run every other iteration
        # records spans so their cost can be compared with the rest
        start = time.perf_counter()
        k = 1
        while k <= MIN_ITERATIONS or time.perf_counter() - start < args.seconds:
            tracer.enabled = bool(args.trace) and k % 2 == 0
            wl.iteration()
            (run.traced_op_s if tracer.enabled else run.untraced_op_s).append(run.op_s[-1])
            k += 1
        tracer.enabled = bool(args.trace)
        run.peak_rss_mb = tree_peak_rss_mb(spark.sparkContext._gateway.proc.pid)

        layers = wl.decompose() if args.trace else {}
    finally:
        if spark is not None:
            jvm = spark.sparkContext._gateway.proc
            spark.stop()
            # the gateway JVM exits when its stdin closes; wait for it so no
            # process of this run outlives it
            jvm.stdin.close()
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    return run, wl, layers


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=1.0, help="input size multiplier (tests use a small one)"
    )
    return ap.parse_args(argv)


def _exit_on_sigterm(signum, _frame):
    sys.exit(128 + signum)


def main(argv=None) -> dict:
    args = parse_args(argv)
    # whatever way the run ends, no process it started outlives it
    children.adopt_orphans()
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    try:
        verify.check_golden()
        result = measure(args)
    finally:
        children.stop_all()
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    main()
