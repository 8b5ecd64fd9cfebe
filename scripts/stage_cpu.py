"""Process CPU of the extraction stage's own batch function, per pass.

Runs extract_pages' per-batch function (the one mapInArrow is handed, taken
without a Spark session as tests/test_links.py::_fused_batch_fn takes it,
with the link and anchor faces on) over perfbench's seed-N cold or crawl
pages, in 4 Arrow batches of 500 rows, in this process. Every run starts
from an empty clean memo, as a fresh worker does. Times with
time.process_time and prints one JSON line of medians over the runs:

- total: the batch function alone, uninstrumented;
- decode, repair, tokenize, finish, link_faces: a second, instrumented run
  in each round that wraps core.decode_bytes, core.repair_markup,
  core.tokenize_blocks, core.PageBatch.finish and
  links.extract_link_faces; rest is that run's time outside them (the
  Arrow build, the batch loop, the wrappers' own clock reads).

Usage (from anywhere; it imports the checkout it lives in):
    python scripts/stage_cpu.py [--kind cold|crawl] [--seed 5] [--runs 9]
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402

from greenocr_spark.extractor import core, links  # noqa: E402
from perfbench.inputs import pages  # noqa: E402
from tests.test_links import _fused_batch_fn  # noqa: E402

BATCHES = 4
ROWS = 500
PASSES = ("decode", "repair", "tokenize", "finish", "link_faces")


def arrow_batches(kind: str, seed: int) -> list:
    rows = pages(kind, seed, 0, 0, BATCHES * ROWS)
    return [
        pa.RecordBatch.from_pydict(
            {
                "url": pa.array([r["url"] for r in part]),
                "html": pa.array([r["html"] for r in part], pa.binary()),
            }
        )
        for part in (rows[i : i + ROWS] for i in range(0, len(rows), ROWS))
    ]


def _timed(fn, secs: dict, name: str):
    clock = time.process_time

    def wrapper(*args, **kwargs):
        t = clock()
        try:
            return fn(*args, **kwargs)
        finally:
            secs[name] += clock() - t

    return wrapper


@contextlib.contextmanager
def instrumented(secs: dict):
    """The stage's passes, each timed into secs[pass] while inside."""
    targets = [
        (core, "decode_bytes", "decode"),
        (core, "repair_markup", "repair"),
        (core, "tokenize_blocks", "tokenize"),
        (core.PageBatch, "finish", "finish"),
        (links, "extract_link_faces", "link_faces"),
    ]
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for owner, attr, name in targets:
            setattr(owner, attr, _timed(getattr(owner, attr), secs, name))
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


def run_once(fn, batches: list) -> float:
    core._CLEAN_CACHE.clear()
    t = time.process_time()
    for _ in fn(iter(batches)):
        pass
    return time.process_time() - t


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--kind", choices=("cold", "crawl"), default="cold")
    ap.add_argument("--seed", type=int, default=5)
    ap.add_argument("--runs", type=int, default=9)
    args = ap.parse_args(argv)

    batches = arrow_batches(args.kind, args.seed)
    plain = _fused_batch_fn(with_links=True, with_anchors=True)
    run_once(plain, batches)  # warm-up: imports and first-call costs
    totals, per_pass = [], {name: [] for name in (*PASSES, "rest")}
    for _ in range(args.runs):
        totals.append(run_once(plain, batches))
        secs = dict.fromkeys(PASSES, 0.0)
        with instrumented(secs):
            whole = run_once(_fused_batch_fn(with_links=True, with_anchors=True), batches)
        for name in PASSES:
            per_pass[name].append(secs[name])
        per_pass["rest"].append(whole - sum(secs.values()))
    seconds = {name: round(statistics.median(v), 4) for name, v in per_pass.items()}
    seconds["total"] = round(statistics.median(totals), 4)
    print(
        json.dumps(
            {"kind": args.kind, "seed": args.seed, "pages": BATCHES * ROWS, "runs": args.runs, "seconds": seconds}
        )
    )


if __name__ == "__main__":
    main()
