"""Curation job (plans/curate.py): funnel correctness, stage-level
resume invariance, and the params-drift guard."""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pytest

from pyspark.sql import functions as F

from greenocr_spark.plans.curate import read_curate_manifest, run_curate_job


def _corpus(spark):
    """Hand-built corpus hitting every stage:
    - doc 0/1: exact duplicates (dedup keeps 0)
    - doc 2/3: near-duplicates, one word differs (near-dup keeps 2)
    - doc 4: too short (quality drops)
    - doc 5: repeated-bigram spam (quality drops)
    - doc 6: wrong language (lang drops)
    - doc 7-9: ordinary survivors"""
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    near = base.replace("lazy", "sleepy")
    rows = [
        (0, base, "en", "srcA"),
        (1, base, "en", "srcB"),
        (2, near + " tail one two three", "en", "srcA"),
        (3, near + " tail one two four", "en", "srcB"),
        (4, "too short", "en", "srcA"),
        (5, "spam spam spam spam spam spam spam spam spam spam", "en", "srcB"),
        (6, "der schnelle braune fuchs springt ueber den faulen hund", "de", "srcA"),
        (7, "completely unrelated text about distributed query engines rocks", "en", "srcA"),
        (8, "another unique document describing shuffle partitioning tricks", "en", "srcB"),
        (9, "a third unique document on broadcast joins and salted keys", "en", "srcA"),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


def test_curate_funnel_and_stages(spark, tmp_path):
    out = str(tmp_path / "cur")
    curated = run_curate_job(
        spark,
        _corpus(spark),
        out,
        min_tokens=4,
        max_dup_bigram_frac=0.5,
        langs=("en",),
        resample=False,  # deterministic small-corpus assertions below
    )
    ids = sorted(r["doc_id"] for r in curated.select("doc_id").collect())
    # 4,5 fail quality; 6 fails lang; 1 exact-dup of 0; 3 near-dup of 2
    assert ids == [0, 2, 7, 8, 9]
    funnel = {
        r["stage"]: (r["rows_in"], r["rows_out"])
        for r in read_curate_manifest(spark, out)
    }
    assert funnel["quality"] == (10, 8)
    assert funnel["lang"] == (8, 7)
    assert funnel["exact"] == (7, 6)
    assert funnel["neardup"] == (6, 5)


def test_curate_resume_reuses_committed_stages(spark, tmp_path):
    out = str(tmp_path / "cur")
    kw = dict(min_tokens=4, max_dup_bigram_frac=0.5, langs=("en",), resample=False)
    first = run_curate_job(spark, _corpus(spark), out, **kw)
    first_ids = sorted(r["doc_id"] for r in first.select("doc_id").collect())

    # simulate a crash after 'exact': drop the last stage + final output
    shutil.rmtree(f"{out}/stages/neardup")
    shutil.rmtree(f"{out}/curated")
    second = run_curate_job(spark, _corpus(spark), out, **kw)
    assert sorted(r["doc_id"] for r in second.select("doc_id").collect()) == first_ids
    # only the recomputed stage appended a new funnel row
    counts = Counter(r["stage"] for r in read_curate_manifest(spark, out))
    assert counts == {"quality": 1, "lang": 1, "exact": 1, "neardup": 2}


@pytest.mark.parametrize("forged", ["temporary_only", "part_without_success"])
def test_curate_recomputes_an_uncommitted_stage(spark, tmp_path, forged):
    """A stage is resumed only if its write committed (left _SUCCESS). A
    write that crashed leaves only _temporary/ (no schema to read), or part
    files without _SUCCESS (part of a survivor set). Either stage is
    recomputed, and the curated table equals a clean run's."""
    kw = dict(min_tokens=4, max_dup_bigram_frac=0.5, langs=("en",), resample=False)

    def table(df):
        return sorted(tuple(r) for r in df.collect())

    clean = table(run_curate_job(spark, _corpus(spark), str(tmp_path / "clean"), **kw))
    out = str(tmp_path / "cur")
    run_curate_job(spark, _corpus(spark), out, **kw)
    # the crash: 'exact' dies in its write, so neither the stage after it
    # nor the curated table is written
    sdir = f"{out}/stages/exact"
    shutil.rmtree(sdir)
    shutil.rmtree(f"{out}/stages/neardup")
    shutil.rmtree(f"{out}/curated")
    if forged == "temporary_only":
        os.makedirs(f"{sdir}/_temporary/0")
    else:
        spark.createDataFrame([(0,)], "doc_id long").write.parquet(sdir)
        os.remove(f"{sdir}/_SUCCESS")
    assert table(run_curate_job(spark, _corpus(spark), out, **kw)) == clean
    counts = Counter(r["stage"] for r in read_curate_manifest(spark, out))
    assert counts == {"quality": 1, "lang": 1, "exact": 2, "neardup": 2}


def test_curate_params_drift_rejected(spark, tmp_path):
    out = str(tmp_path / "cur")
    run_curate_job(spark, _corpus(spark), out, min_tokens=4, resample=False,
                   neardup=False)
    with pytest.raises(ValueError, match="params drift"):
        run_curate_job(spark, _corpus(spark), out, min_tokens=6,
                       resample=False, neardup=False)


def test_curate_resample_deterministic(spark, tmp_path):
    out1 = str(tmp_path / "a")
    out2 = str(tmp_path / "b")
    docs = _corpus(spark)
    r1 = run_curate_job(spark, docs, out1, min_tokens=1,
                        max_dup_bigram_frac=1.0, neardup=False)
    r2 = run_curate_job(spark, docs, out2, min_tokens=1,
                        max_dup_bigram_frac=1.0, neardup=False)
    a = sorted(r["doc_id"] for r in r1.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in r2.select("doc_id").collect())
    assert a == b  # md5-ppm sampling is reproducible across runs


def test_curate_full_recompute_recommits_params_and_manifest(spark, tmp_path, as_uri=False):
    # ADVICE r03: resume=False recomputes under NEW params — the committed
    # fingerprint must follow (else a later resume=True run would pass the
    # drift check against stale params and mix survivor sets), and the
    # funnel manifest must describe exactly the latest run, not an
    # append-accumulation of both runs.
    out = (tmp_path / "cur").as_uri() if as_uri else str(tmp_path / "cur")
    docs = _corpus(spark)
    run_curate_job(spark, docs, out, min_tokens=4, resample=False, neardup=False)
    # forced recompute with different params succeeds and adopts them
    run_curate_job(spark, docs, out, min_tokens=6, resample=False,
                   neardup=False, resume=False)
    m = read_curate_manifest(spark, out)
    counts = Counter(r["stage"] for r in m)
    assert counts == {"quality": 1, "exact": 1}  # one row per stage, one run
    assert len({r["run_id"] for r in m}) == 1
    # resuming with the NEW params is now clean; the OLD params drift-raise
    run_curate_job(spark, docs, out, min_tokens=6, resample=False, neardup=False)
    import pytest as _pt
    with _pt.raises(ValueError, match="params drift"):
        run_curate_job(spark, docs, out, min_tokens=4, resample=False,
                       neardup=False)


def test_curate_full_recompute_recommits_params_and_manifest_file_uri(spark, tmp_path):
    """A file: out_dir clears its funnel manifest on a forced rerun like a
    plain path does."""
    test_curate_full_recompute_recommits_params_and_manifest(spark, tmp_path, as_uri=True)


def test_funnel_rows_appended_without_a_spark_job(spark, tmp_path, monkeypatch):
    """Each fresh stage's funnel row is one parquet file written from the
    driver: the append runs no Spark job (counted by job group)."""
    import greenocr_spark.plans.curate as curate_module

    sc, append, stages = spark.sparkContext, curate_module.append_parquet_file, []

    def append_in_group(spark, path, rows, ddl):
        stages.append(rows[0][0])
        sc.setJobGroup("funnel_append", "funnel_append")
        try:
            append(spark, path, rows, ddl)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(curate_module, "append_parquet_file", append_in_group)
    out = str(tmp_path / "cur")
    run_curate_job(spark, _corpus(spark), out, neardup=False, resample=False)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert stages == ["quality", "exact"]
    assert list(sc.statusTracker().getJobIdsForGroup("funnel_append")) == []
    assert [r["stage"] for r in read_curate_manifest(spark, out)] == stages


def test_curate_decontamination_stage(spark, tmp_path):
    # dec1's kernel as a job stage: docs sharing >= min_overlap word
    # 3-grams with the eval set drop; the eval CONTENT is fingerprinted
    # into the params, so a changed benchmark set fails the drift check
    # instead of silently resuming old survivor sets.
    out = str(tmp_path / "cur")
    docs = _corpus(spark)
    # doc 7 verbatim in the eval set; doc 8 shares nothing
    eval_docs = spark.createDataFrame(
        [(0, "completely unrelated text about distributed query engines rocks")],
        "eid long, text string",
    )
    kw = dict(min_tokens=4, max_dup_bigram_frac=0.5, langs=("en",),
              neardup=False, resample=False)
    cur = run_curate_job(spark, docs, out, eval_docs=eval_docs, **kw)
    ids = sorted(r["doc_id"] for r in cur.select("doc_id").collect())
    assert 7 not in ids and 8 in ids and 9 in ids
    stages = {r["stage"] for r in read_curate_manifest(spark, out)}
    assert "decon" in stages
    # resume with the SAME eval set: clean no-op
    run_curate_job(spark, docs, out, eval_docs=eval_docs, **kw)
    # a different eval set must drift-raise
    other = spark.createDataFrame(
        [(0, "another unique document describing shuffle partitioning tricks")],
        "eid long, text string",
    )
    with pytest.raises(ValueError, match="params drift"):
        run_curate_job(spark, docs, out, eval_docs=other, **kw)
