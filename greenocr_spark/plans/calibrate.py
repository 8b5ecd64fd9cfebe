"""Calibration job — the training-loop analog (SURVEY.md §3.2).

The reference fits a CRNN per width-bucket, tracks average CTC loss, and
keeps the lowest-loss state (train.py:1193-1207), merging candidates
across buckets (train.py:202-220). The extraction engine's "model" is the
frozen ExtractorConfig; its trainable surface is the scoring thresholds.
This job grid-searches configs against a labeled sample (pages with known
main-content text) and picks the best by exact-match accuracy:

    epochs → config grid        loss → 1 - exact-match rate
    best-state capture → argmax with deterministic tie-break
    per-bucket partials → per-partition (config, hits, n) partial aggs

One Arrow-batched pass evaluates EVERY config on every sample page
(G × docs extractions, executed where the data lives); the driver sees
only G aggregate rows.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from greenocr_spark.extractor.core import DEFAULT_CONFIG, canon_ws, extract_document
from greenocr_spark.worker import trim_import_caches

EVAL_SCHEMA = StructType(
    [
        StructField("cfg_id", IntegerType()),
        StructField("hits", LongType()),
        StructField("n", LongType()),
    ]
)


def default_grid() -> list:
    """Small deterministic grid around the frozen defaults."""
    grid = []
    for thr in (0.2, 0.3, 0.4):
        for ng in (20.0, 30.0, 45.0):
            grid.append(replace(DEFAULT_CONFIG, threshold=thr, neargood_chars=ng))
    return grid


def evaluate_configs(labeled: DataFrame, grid: list | None = None) -> DataFrame:
    """(html:binary, text:string ground truth) → per-config accuracy rows.

    Partial (cfg_id, hits, n) counts are produced map-side per Arrow batch,
    so the shuffle moves G×partitions tiny rows, never documents."""
    grid = grid or default_grid()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trim_import_caches()
        for pdf in batches:
            hits = [0] * len(grid)
            n = 0
            for raw, want in zip(pdf["html"].tolist(), pdf["text"].tolist()):
                if want is None:
                    continue
                n += 1
                want_c = canon_ws(want)
                for gi, cfg in enumerate(grid):
                    if extract_document(raw, cfg)["text"] == want_c:
                        hits[gi] += 1
            yield pd.DataFrame(
                {"cfg_id": range(len(grid)), "hits": hits, "n": [n] * len(grid)}
            )

    partials = labeled.select("html", "text").mapInPandas(run, EVAL_SCHEMA)
    return (
        partials.groupBy("cfg_id")
        .agg(F.sum("hits").alias("hits"), F.sum("n").alias("n"))
        .select(
            "cfg_id",
            "hits",
            "n",
            (F.col("hits") / F.col("n")).cast(DoubleType()).alias("accuracy"),
        )
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
    gfield = labeled.schema[group_col]
    schema = StructType(
        [
            StructField("grp", gfield.dataType),
            StructField("cfg_id", IntegerType()),
            StructField("hits", LongType()),
            StructField("n", LongType()),
        ]
    )

    def run(key, pdf):
        trim_import_caches()
        hits = [0] * len(grid)
        n = 0
        for raw, want in zip(pdf["html"].tolist(), pdf["text"].tolist()):
            if want is None:
                continue
            n += 1
            want_c = canon_ws(want)
            for gi, cfg in enumerate(grid):
                if extract_document(raw, cfg)["text"] == want_c:
                    hits[gi] += 1
        return pd.DataFrame(
            {"grp": [key[0]] * len(grid), "cfg_id": range(len(grid)),
             "hits": hits, "n": [n] * len(grid)}
        )

    rows = (
        labeled.select(F.col(group_col).alias("grp"), "html", "text")
        .groupBy("grp")
        .applyInPandas(run, schema)
        .collect()
    )
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
