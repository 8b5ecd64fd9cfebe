"""Composed production path: extract → curate → export as ONE job.

Each stage is individually soaked and resumable (extraction: salted
partition-level manifest, plans/job.py; curation: stage-level survivor-set
checkpoints, plans/curate.py; export: shard manifest + params guard,
plans/export.py). This job composes them over a single corpus and makes
the HANDOFFS first-class (VERDICT r04 task 3):

- extract → curate: the curation input is a narrow projection of the
  committed extracted table — doc_id = url (the corpus key; no synthetic
  id that could collide or drift between runs), source = url host (the
  natural mixture-weight grouping), lang re-detected from the extracted
  text with the tx3 char-trigram kernel (the CCNet shape: language ID
  runs on EXTRACTED text, not on raw HTML). Zero shuffle — the handoff
  adds no exchange between the stages.
- curate → export: the export input is the committed curated table
  (doc_id, text) as-is.

Resume model: each stage keeps its own; the pipeline simply re-derives
every stage's input from the previous stage's COMMITTED output, so a
rerun no-ops through completed stages (extract: the manifest's done
part_ids leave nothing pending; curate: all survivor sets committed →
returns the stored table without rescanning; export: manifest + shard
dirs verify → stats from the manifest). Like the stages themselves,
resume assumes the same pages input: the done part_ids say nothing about
pages added since, so a grown corpus needs a fresh out_dir.

Scale shape at 10^12 pages: the handoff projections are narrow (no added
exchange); every shuffle in the chain is owned and documented by its
stage. The extraction write is the only full-corpus materialization
between stages — exactly what a production lake does (the curated and
shard tables are corpus-proportional but post-filter).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from greenocr_spark.functions.sqlfns import host_expr
from greenocr_spark.operators.text import lang_id_col
from greenocr_spark.plans.curate import read_curate_manifest, run_curate_job
from greenocr_spark.plans.export import run_export_job
from greenocr_spark.plans.job import run_extract_job


def extract_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "extract")


def curate_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "curate")


def export_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "export")


def curation_input(extracted: DataFrame) -> DataFrame:
    """extract → curate handoff: (doc_id, text, lang, source) from the
    extracted table. Narrow projection — no shuffle, no Python."""
    return extracted.filter(F.col("text") != "").select(
        F.col("url").alias("doc_id"),
        "text",
        lang_id_col("text").alias("lang"),
        # NULL host (unparseable url) folds to its own 'unknown' source
        # bucket rather than dropping the doc on the resample join
        F.coalesce(host_expr("url"), F.lit("unknown")).alias("source"),
    )


def run_pipeline_job(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    *,
    # extract stage (plans/job.py)
    n_parts: int = 64,
    n_salts: int = 8,
    salting: str = "uniform",
    with_links: bool = False,
    with_anchors: bool = False,
    # curate stage (plans/curate.py)
    min_tokens: int = 5,
    max_dup_bigram_frac: float = 0.6,
    langs: tuple[str, ...] | None = None,
    neardup: bool = True,
    resample: bool = True,
    eval_docs: DataFrame | None = None,
    decon_min_overlap: int = 2,
    # export stage (plans/export.py)
    seq_len: int = 256,
    rows_per_shard: int = 100_000,
    seed: int = 42,
    resume: bool = True,
    run_id: str | None = None,
) -> dict:
    """Run (or resume) the full extract → curate → export chain.

    Returns a stats dict with one entry per stage: extracted/curated row
    counts, the curation funnel (stage, rows_in, rows_out), and the export
    summary (n_shards/n_chunks/n_tokens/resumed)."""
    extracted = run_extract_job(
        spark,
        pages,
        extract_dir(out_dir),
        n_parts=n_parts,
        n_salts=n_salts,
        salting=salting,
        with_links=with_links,
        with_anchors=with_anchors,
        resume=resume,
        run_id=run_id,
    )

    curated = run_curate_job(
        spark,
        curation_input(extracted),
        curate_dir(out_dir),
        min_tokens=min_tokens,
        max_dup_bigram_frac=max_dup_bigram_frac,
        langs=langs,
        neardup=neardup,
        resample=resample,
        eval_docs=eval_docs,
        decon_min_overlap=decon_min_overlap,
        resume=resume,
        run_id=run_id,
    )

    export_stats = run_export_job(
        spark,
        curated,
        export_dir(out_dir),
        seq_len=seq_len,
        rows_per_shard=rows_per_shard,
        seed=seed,
        resume=resume,
    )

    return {
        "extracted_rows": extracted.count(),
        "curated_rows": curated.count(),
        "funnel": read_curate_manifest(spark, curate_dir(out_dir)),
        "export": export_stats,
    }
