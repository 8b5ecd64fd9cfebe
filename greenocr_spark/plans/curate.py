"""Curation job: quality gates → language filter → exact dedup →
near-dup removal → mixture resample over a (doc_id, text, lang, source)
corpus, with STAGE-level checkpoint/resume and a funnel manifest — the
training-data side's counterpart of the extraction job (plans/job.py).

Why stage-level (vs the extraction job's partition-level) resume: every
curation stage after the narrow gates is corpus-GLOBAL — dedup winners
and near-dup clusters depend on all rows — so partitions cannot complete
independently. The restart unit is the completed stage: each stage
commits its survivor doc_id set under out_dir/stages/<name>/ (ids only —
tiny next to the corpus; committed = its _SUCCESS marker exists), and a
rerun reuses every committed stage, recomputing only what's missing.
The params are recorded in out_dir/_params.json
(sources/pages.check_params): a resume over committed survivor sets
must match them, so a config drift cannot silently mix survivor sets
computed under different rules (ADVICE r02); a run that keeps no
survivor set (resume=False, or none committed yet) records its own.

Scale shape per stage (10^12-doc corpus):
- quality/lang: narrow array-lambda filters, zero shuffle.
- exact dedup: one map-side-combined groupBy on md5(text); winner ids
  semi-join back on doc_id.
- near-dup: MinHash → banded LSH bucket self-join (never all-pairs) →
  O(log d) pointer-jumping connected components → loser anti-join
  (the same code the dd2/dd3/dd8/pipe2 battery entries value-check);
  the loser set is deliberately NOT broadcast-hinted — it is
  corpus-proportional on high-duplication corpora, so AQE picks
  broadcast vs shuffle from its measured size at runtime.
- resample: the sources×langs weight table broadcasts; the corpus is
  filtered by a deterministic md5-ppm predicate — no corpus shuffle.
- survivor sets apply as doc_id semi-joins; AQE broadcasts them while
  they fit and falls back to a key shuffle beyond.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from greenocr_spark.operators.dedup import _neardup_losers
from greenocr_spark.operators.text import (
    _bigram_array,
    _spark_gram3_hashes,
    _spark_words,
)
from greenocr_spark.sources.pages import (
    append_parquet_file, check_params, delete_path, glob_paths, path_exists,
    read_parquet_rows, write_params,
)

CURATE_MANIFEST_DDL = "stage string, idx int, rows_in long, rows_out long, run_id string"


def _mixture_weight_table(d):
    """Per (source, lang) doc/token counts + the token-equalizing sampling
    weight in integer ppm — shared by mix1 (reports it) and samp2 (applies
    it), so the two can never drift apart. One map-side-combined groupBy
    over the corpus; the window runs over the GROUP table (sources × langs
    — tiny), so the single-partition window is a non-issue at any corpus
    scale. The ppm is computed in DOUBLE with the identical operation
    order on both engines (same IEEE ops → bit-identical results); a
    pure-int64 numerator (tot_tokens * 1e6) would wrap Spark's BIGINT at
    ~9.2e12 total tokens — inside the 100-TB target — while DuckDB's
    HUGEINT would not: silent engine divergence."""
    g = d.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(_spark_words())).alias("n_tokens"),
    )
    w = Window.partitionBy()
    return (
        g.withColumn("tot_tokens", F.sum("n_tokens").over(w))
        .withColumn("n_groups", F.count("*").over(w))
        .select(
            "source",
            "lang",
            "n_docs",
            "n_tokens",
            F.expr(
                "CAST(floor((1000000.0 * tot_tokens)"
                " / (n_groups * n_tokens)) AS BIGINT)"
            ).alias("weight_ppm"),
        )
    )


def _stage_dir(out_dir: str, name: str) -> str:
    return os.path.join(out_dir, "stages", name)


def _quality_gate(cur: DataFrame, min_tokens: int, max_frac: float) -> DataFrame:
    ws = _spark_words()
    # _bigram_array evaluates the split once per row; see its docstring for
    # why the transform+element_at form is O(tokens²) per document.
    big = _bigram_array(ws)
    frac = F.when(
        F.size(big) > 0,
        1 - F.size(F.array_distinct(big)) / F.size(big).cast("double"),
    ).otherwise(F.lit(0.0))
    return cur.filter((F.size(ws) >= min_tokens) & (frac <= max_frac))


def _exact_dedup(cur: DataFrame) -> DataFrame:
    return (
        cur.select("doc_id", F.md5("text").alias("sig"))
        .groupBy("sig")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


def _eval_grams(eval_docs: DataFrame) -> DataFrame:
    """Distinct word-3-gram md5 hashes of a benchmark/eval table — the
    dec1 kernel's eval side (benchmark-sized, broadcastable)."""
    return (
        eval_docs.select(_spark_words().alias("ws"))
        .filter(F.size("ws") >= 3)
        .select(F.explode(_spark_gram3_hashes()).alias("gh"))
        .distinct()
    )


def _eval_fingerprint(eval_grams: DataFrame) -> str:
    """Deterministic content fingerprint of the eval gram set (xor of
    60-bit hash prefixes — order-insensitive, one cheap aggregate over a
    benchmark-sized table). Committed with the params so a CHANGED eval
    set cannot silently resume against survivor sets decontaminated
    under the old one — same drift class the params guard exists for."""
    row = eval_grams.select(
        F.conv(F.substring("gh", 1, 15), 16, 10).cast("long").alias("h")
    ).agg(F.bit_xor("h").alias("x"), F.count("*").alias("n")).first()
    return f"{row['x']}:{row['n']}"


def _decontaminate(cur: DataFrame, eval_grams: DataFrame, min_overlap: int) -> DataFrame:
    # dec1 shape: eval grams broadcast (corpus never shuffles for the
    # join), flagged docs = >= min_overlap distinct shared grams, survivors
    # anti-join back on doc_id
    g = (
        cur.select("doc_id", _spark_words().alias("ws"))
        .filter(F.size("ws") >= 3)
        .select("doc_id", F.explode(_spark_gram3_hashes()).alias("gh"))
    )
    flagged = (
        g.join(F.broadcast(eval_grams), "gh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count_distinct("gh").alias("n"))
        .filter(F.col("n") >= min_overlap)
        .select("doc_id")
    )
    return cur.select("doc_id").join(flagged, "doc_id", "left_anti")


def _resample(cur: DataFrame) -> DataFrame:
    weights = _mixture_weight_table(cur).select(
        "source", "lang", F.expr("least(1000000, weight_ppm)").alias("keep_ppm")
    )
    ppm = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 5), 16, 10)
        .cast("long")
        % 1000000
    )
    return (
        cur.join(F.broadcast(weights), ["source", "lang"])
        .filter(ppm < F.col("keep_ppm"))
        .select("doc_id")
    )


def run_curate_job(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    *,
    min_tokens: int = 5,
    max_dup_bigram_frac: float = 0.6,
    langs: tuple[str, ...] | None = None,
    neardup: bool = True,
    resample: bool = True,
    eval_docs: DataFrame | None = None,
    decon_min_overlap: int = 2,
    run_id: str | None = None,
    resume: bool = True,
) -> DataFrame:
    """Run (or resume) the curation job. Returns the curated corpus read
    back from out_dir/curated. Metrics: one (stage, rows_in, rows_out)
    funnel row per freshly computed stage in out_dir/manifest."""
    run_id = run_id or uuid.uuid4().hex[:12]

    eval_grams = _eval_grams(eval_docs) if eval_docs is not None else None
    params = {
        "min_tokens": min_tokens,
        "max_dup_bigram_frac": max_dup_bigram_frac,
        "langs": sorted(langs) if langs else None,
        "neardup": neardup,
        "resample": resample,
        # eval CONTENT is fingerprinted, not just the on/off flag: a
        # changed benchmark set must fail the drift check, because the
        # committed decon survivors were computed under the old one
        "decon": (
            {
                "min_overlap": decon_min_overlap,
                "eval_fp": _eval_fingerprint(eval_grams),
            }
            if eval_grams is not None
            else None
        ),
    }
    # a resume keeps every committed stage survivor set (its write left
    # _SUCCESS), so they must have been computed under these params;
    # resume=False recomputes every stage and keeps nothing, so its params
    # become the record
    pattern = os.path.join(out_dir, "stages", "*", "_SUCCESS")
    committed = {m.split("/")[-2] for m in glob_paths(spark, pattern)} if resume else set()
    if check_params(spark, out_dir, params, bool(committed)) is None:
        write_params(spark, out_dir, params)
    if not resume:
        # full recompute: the funnel manifest describes the OLD run's stage
        # rows — clear it so the append-per-stage below rebuilds a manifest
        # describing exactly one run (export.py invalidates its manifest the
        # same way before touching shards)
        delete_path(spark, os.path.join(out_dir, "manifest"))

    stages: list[tuple[str, object]] = [
        (
            "quality",
            lambda cur: _quality_gate(
                cur, min_tokens, max_dup_bigram_frac
            ).select("doc_id"),
        )
    ]
    if langs:
        allowed = list(langs)
        stages.append(
            ("lang", lambda cur: cur.filter(F.col("lang").isin(allowed)).select("doc_id"))
        )
    stages.append(("exact", _exact_dedup))
    if neardup:
        # no broadcast hint on the loser set: on a high-duplication corpus
        # it is corpus-proportional (30% of rows in the planted soak), so
        # forcing a broadcast would OOM at 10^12 rows. AQE converts the
        # anti-join to a broadcast at runtime while the measured size fits
        # and falls back to a key shuffle beyond — the scale-safe default.
        stages.append(
            (
                "neardup",
                lambda cur: cur.select("doc_id").join(
                    _neardup_losers(cur), "doc_id", "left_anti"
                ),
            )
        )
    if eval_grams is not None:
        stages.append(
            (
                "decon",
                lambda cur: _decontaminate(cur, eval_grams, decon_min_overlap),
            )
        )
    if resample:
        stages.append(("resample", _resample))

    cur = docs
    rows_in = None  # counted lazily only when a stage actually computes
    any_fresh = False
    for idx, (name, compute) in enumerate(stages):
        sdir = _stage_dir(out_dir, name)
        if name not in committed:
            any_fresh = True
            if rows_in is None:
                rows_in = cur.count()
            compute(cur).write.mode("overwrite").parquet(sdir)
            ids = spark.read.parquet(sdir)
            rows_out = ids.count()
            append_parquet_file(
                spark, os.path.join(out_dir, "manifest"),
                [(name, idx, rows_in, rows_out, run_id)], CURATE_MANIFEST_DDL,
            )
            rows_in = rows_out
        else:
            ids = spark.read.parquet(sdir)
            rows_in = None  # unknown without counting; next fresh stage recounts
        cur = docs.join(ids.select("doc_id"), "doc_id", "left_semi")

    curated_dir = os.path.join(out_dir, "curated")
    if not any_fresh and path_exists(spark, os.path.join(curated_dir, "_SUCCESS")):
        # every stage resumed from its committed survivor set AND the final
        # table finished its write (crash between last stage and this write
        # leaves no _SUCCESS → falls through to the rewrite): true no-op —
        # do not rescan the corpus to rewrite an identical table. Makes the
        # composed pipeline's chained resume cheap (plans/pipeline.py).
        return spark.read.parquet(curated_dir)
    cur.write.mode("overwrite").parquet(curated_dir)
    return spark.read.parquet(curated_dir)


def read_curate_manifest(spark: SparkSession, out_dir: str) -> list[dict]:
    """The funnel rows (CURATE_MANIFEST_DDL) in stage order; [] if none."""
    rows = read_parquet_rows(spark, os.path.join(out_dir, "manifest"), CURATE_MANIFEST_DDL)
    return sorted(rows, key=lambda r: r["idx"])
