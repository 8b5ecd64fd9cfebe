"""Calibration job — the training-loop analog (SURVEY.md §3.2).

The reference fits a CRNN per width-bucket, tracks average CTC loss, and
keeps the lowest-loss state (train.py:1193-1207), merging candidates
across buckets (train.py:202-220). The extraction engine's "model" is the
frozen ExtractorConfig; its trainable surface is the scoring thresholds.
This job grid-searches configs against a labeled sample (pages with known
main-content text) and picks the best by exact-match accuracy:

    epochs → config grid        loss → 1 - exact-match rate
    best-state capture → argmax with deterministic tie-break
    per-bucket partials → per-partition (grp, config, hits, n) partial aggs

One Arrow-batched stage runs where the pages are read: each batch's pages
go into one core.PageBatch once (decode, repair, tokenize), which is
finished once per grid config, since only scoring reads the config. The
JVM sums the stage's partial rows, so no page is shuffled and the driver
sees one row per group and config.
"""

from __future__ import annotations

from dataclasses import replace
from operator import eq
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType

from greenocr_spark.extractor.core import DEFAULT_CONFIG, PageBatch, canon_ws
from greenocr_spark.worker import trim_import_caches


def default_grid() -> list:
    """Small deterministic grid around the frozen defaults."""
    grid = []
    for thr in (0.2, 0.3, 0.4):
        for ng in (20.0, 30.0, 45.0):
            grid.append(replace(DEFAULT_CONFIG, threshold=thr, neargood_chars=ng))
    return grid


def _partials(labeled: DataFrame, grp: Column, grid: list) -> DataFrame:
    """(grp, cfg_id, hits, n) summed over labeled's (html:binary,
    text:string ground truth) rows per value of grp: n counts the rows
    with a label, hits those whose extracted text under grid[cfg_id] is
    the label's canonical form. A group whose rows have no label keeps
    n = 0. Narrow up to the Python stage; only its partial rows (one per
    group, config and batch) are shuffled."""
    src = labeled.select(grp.alias("grp"), "html", "text")
    schema = StructType(
        [
            src.schema["grp"],
            StructField("cfg_id", IntegerType()),
            StructField("hits", LongType()),
            StructField("n", LongType()),
        ]
    )
    n_cfg = len(grid)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        trim_import_caches()
        for batch in batches:
            if batch.num_rows == 0:
                continue
            index: dict = {}  # group value -> its index in the batch
            first: list = []  # each group's first row
            pages, page_grp, wants = PageBatch(), [], []
            cols = (batch.column(c).to_pylist() for c in ("grp", "html", "text"))
            for row, (g, raw, want) in enumerate(zip(*cols)):
                k = index.get(g)
                if k is None:
                    k = index[g] = len(first)
                    first.append(row)
                if want is not None:
                    pages.add(raw)
                    page_grp.append(k)
                    wants.append(canon_ws(want))
            n_grp = len(first)
            page_grp = np.asarray(page_grp, dtype=np.int64)
            hits = np.zeros((n_grp, n_cfg), dtype=np.int64)
            for cfg_id, cfg in enumerate(grid):
                hit = np.fromiter(map(eq, pages.finish(cfg).text, wants), dtype=bool, count=len(wants))
                hits[:, cfg_id] = np.bincount(page_grp[hit], minlength=n_grp)
            n = np.bincount(page_grp, minlength=n_grp)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("grp").take(np.repeat(first, n_cfg)),
                    pa.array(np.tile(np.arange(n_cfg, dtype=np.int32), n_grp)),
                    pa.array(hits.ravel()),
                    pa.array(np.repeat(n, n_cfg)),
                ],
                names=schema.names,
            )

    return (
        src.mapInArrow(run, schema=schema)
        .groupBy("grp", "cfg_id")
        .agg(F.sum("hits").alias("hits"), F.sum("n").alias("n"))
    )


def evaluate_configs(labeled: DataFrame, grid: list | None = None) -> DataFrame:
    """(html:binary, text:string ground truth) → per-config accuracy rows
    (cfg_id, hits, n, accuracy). With no label (n = 0) the accuracy is
    0.0, as in calibrate_grouped."""
    grid = grid or default_grid()
    hits, n = F.col("hits"), F.col("n")
    return _partials(labeled, F.lit(0), grid).select(
        "cfg_id",
        "hits",
        "n",
        F.when(n > 0, hits / n).otherwise(0.0).cast(DoubleType()).alias("accuracy"),
    )


def calibrate_grouped(labeled: DataFrame, group_col: str, grid: list | None = None):
    """Per-group fit + weighted merge — the reference's full training shape:
    one best state per width-bucket (train.py:1201-1207), then
    merge_best_states with size-proportional weights (train.py:202-220).

    Returns (merged_config, per_group) where per_group maps group value →
    (best_config, accuracy, n). The merged config averages each numeric
    field of the per-group winners weighted by group size — exactly
    Σ wᵢ·stateᵢ / Σ wᵢ over the 'parameter tensors' (here: thresholds)."""
    grid = grid or default_grid()
    rows = _partials(labeled, F.col(group_col), grid).collect()
    per_group = {}
    by_grp: dict = {}
    for r in rows:
        by_grp.setdefault(r["grp"], []).append(r)
    for g, rs in by_grp.items():
        best = max(rs, key=lambda r: (r["hits"], -r["cfg_id"]))
        n = best["n"]
        per_group[g] = (grid[best["cfg_id"]], (best["hits"] / n) if n else 0.0, n)
    total = sum(n for _, _, n in per_group.values()) or 1
    merged = replace(
        DEFAULT_CONFIG,
        threshold=sum(c.threshold * n for c, _, n in per_group.values()) / total,
        neargood_chars=sum(c.neargood_chars * n for c, _, n in per_group.values()) / total,
    )
    return merged, per_group


def calibrate(labeled: DataFrame, grid: list | None = None):
    """Pick the best config: max accuracy, deterministic tie-break on
    cfg_id (the reference's best-checkpoint argmin, train.py:1201-1207).
    Returns (best_config, accuracy, per_config_rows)."""
    grid = grid or default_grid()
    rows = evaluate_configs(labeled, grid).collect()
    best = max(rows, key=lambda r: (r["accuracy"], -r["cfg_id"]))
    return grid[best["cfg_id"]], float(best["accuracy"]), rows
