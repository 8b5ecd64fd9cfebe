"""Export-job invariants: the shard set is a complete seeded permutation,
shards reassemble to the canonical corpus, the layout is deterministic
run-over-run, resume is a no-op, and params drift fails loudly."""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from greenocr_spark.plans.export import (
    chunk_corpus,
    read_export_manifest,
    run_export_job,
)
from tests.conftest import SF_DIR


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )


def _layout_hash(spark, out_dir: str) -> str:
    rows = (
        spark.read.parquet(f"{out_dir}/shards")
        .select("pos", "doc_id", "chunk_idx", "shard_id")
        .orderBy("pos")
        .collect()
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(f"{r['pos']}|{r['doc_id']}|{r['chunk_idx']}|{r['shard_id']}\n".encode())
    return h.hexdigest()


def test_export_permutation_and_shard_bounds(spark, tmp_path):
    out = str(tmp_path / "exp")
    stats = run_export_job(
        spark, _docs(spark), out, seq_len=16, rows_per_shard=500, seed=7
    )
    shards = spark.read.parquet(f"{out}/shards")
    n = shards.count()
    assert stats["n_chunks"] == n and not stats["resumed"]
    # positions are exactly 0..n-1
    agg = shards.agg(
        F.min("pos").alias("lo"),
        F.max("pos").alias("hi"),
        F.countDistinct("pos").alias("d"),
    ).collect()[0]
    assert (agg["lo"], agg["hi"], agg["d"]) == (0, n - 1, n)
    # every shard holds exactly its contiguous pos range
    for m in read_export_manifest(spark, out):
        assert m["min_pos"] == m["shard_id"] * 500
        assert m["n_rows"] == m["max_pos"] - m["min_pos"] + 1
        assert m["n_rows"] <= 500


def test_export_shard_files_sorted_by_pos(spark, tmp_path):
    """Each shard_id=<s> dir holds one file whose rows are in pos order: a
    pos-only sort under the partitioned write's own shard_id sort would be
    dropped by the optimizer. Small shuffles stay uncoalesced here, so the
    rows reach the write from several tasks, as they do at scale (one
    coalesced task would hand them over in pos order already)."""
    out = str(tmp_path / "exp")
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        run_export_job(spark, _docs(spark), out, seq_len=16, rows_per_shard=150, seed=7)
    finally:
        spark.conf.set(key, before)
    dirs = [d for d in os.listdir(f"{out}/shards") if d.startswith("shard_id=")]
    assert len(dirs) >= 10
    for d in dirs:
        (data,) = [f for f in os.listdir(f"{out}/shards/{d}") if f.endswith(".parquet")]
        pos = pq.read_table(f"{out}/shards/{d}/{data}", columns=["pos"])["pos"].to_pylist()
        assert pos == sorted(pos), d


def test_export_shards_reassemble_to_corpus(spark, tmp_path):
    out = str(tmp_path / "exp")
    run_export_job(spark, _docs(spark), out, seq_len=16, rows_per_shard=500, seed=7)
    shards = spark.read.parquet(f"{out}/shards")
    rebuilt = (
        shards.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_idx", "chunk_text"))
                    ),
                    lambda s: s["chunk_text"],
                ),
                " ",
            ).alias("rebuilt")
        )
    )
    canon = _docs(spark).select(
        "doc_id", F.array_join(F.split(F.trim("text"), r"\s+"), " ").alias("canon")
    )
    bad = (
        rebuilt.join(canon, "doc_id")
        .filter(F.col("rebuilt") != F.col("canon"))
        .count()
    )
    assert bad == 0


def test_export_deterministic_and_resume(spark, tmp_path, as_uri=False):
    a, b, c = ((tmp_path / n).as_uri() if as_uri else str(tmp_path / n) for n in "abc")
    docs = _docs(spark)
    s1 = run_export_job(spark, docs, a, seq_len=16, rows_per_shard=500, seed=7)
    s2 = run_export_job(spark, docs, b, seq_len=16, rows_per_shard=500, seed=7)
    assert s1["n_chunks"] == s2["n_chunks"]
    assert _layout_hash(spark, a) == _layout_hash(spark, b)
    # a different seed yields a different permutation over the same chunks
    run_export_job(spark, docs, c, seq_len=16, rows_per_shard=500, seed=8)
    assert _layout_hash(spark, c) != _layout_hash(spark, a)
    # resume: second run against a committed dir is a manifest read
    s3 = run_export_job(spark, docs, a, seq_len=16, rows_per_shard=500, seed=7)
    assert s3["resumed"] and s3["n_chunks"] == s1["n_chunks"]


def test_export_noop_resume_runs_no_spark_job(spark, tmp_path):
    """A no-op resume reads the params record, the manifest rows and the
    shard dir listing on the driver: it runs no Spark job."""
    out = str(tmp_path / "exp")
    docs = _docs(spark)
    first = run_export_job(spark, docs, out, seq_len=16, rows_per_shard=500, seed=7)
    sc = spark.sparkContext
    sc.setJobGroup("export_noop", "export_noop")
    try:
        again = run_export_job(spark, docs, out, seq_len=16, rows_per_shard=500, seed=7)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("export_noop")) == []
    assert again == {**first, "resumed": True}


def test_export_resumes_a_manifest_spark_wrote(spark, tmp_path):
    """An out_dir whose manifest is a Spark-written dir (part file, _SUCCESS
    and checksum files; shard_id as int) still resumes, with the same stats."""
    out = str(tmp_path / "exp")
    docs = _docs(spark)
    first = run_export_job(spark, docs, out, seq_len=16, rows_per_shard=500, seed=7)
    rows = [tuple(r.values()) for r in read_export_manifest(spark, out)]
    spark.createDataFrame(
        rows, "shard_id int, n_rows long, min_pos long, max_pos long, n_tokens long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{out}/manifest")
    again = run_export_job(spark, docs, out, seq_len=16, rows_per_shard=500, seed=7)
    assert again == {**first, "resumed": True}


def test_export_deterministic_and_resume_file_uri(spark, tmp_path):
    """A file: out_dir resumes like a plain path: the shard listing goes
    through the path's own file system."""
    test_export_deterministic_and_resume(spark, tmp_path, as_uri=True)


def test_export_params_drift_raises(spark, tmp_path):
    out = str(tmp_path / "exp")
    docs = _docs(spark)
    run_export_job(spark, docs, out, seq_len=16, rows_per_shard=500, seed=7)
    with pytest.raises(ValueError, match="params drift"):
        run_export_job(spark, docs, out, seq_len=32, rows_per_shard=500, seed=7)


def test_export_chunk_counts_match_token_totals(spark, tmp_path):
    docs = _docs(spark)
    chunks = chunk_corpus(docs, 16)
    per_doc = chunks.groupBy("doc_id").agg(F.sum("n_tokens").alias("nt"))
    direct = docs.select(
        "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("nt2")
    ).filter(F.col("nt2") > 0)
    bad = (
        per_doc.join(direct, "doc_id")
        .filter(F.col("nt") != F.col("nt2"))
        .count()
    )
    assert bad == 0


def test_curate_then_export_end_to_end(spark, tmp_path):
    """The full platform path: raw docs → curate job (quality gates +
    dedup) → export job (chunk + shuffle + shard). The shard set must be
    a complete permutation over exactly the CURATED survivors' chunks,
    and reassembling any shard row's doc must reproduce the curated text."""
    from greenocr_spark.plans.curate import run_curate_job

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    curated = run_curate_job(
        spark,
        docs,
        str(tmp_path / "cur"),
        min_tokens=5,
        max_dup_bigram_frac=0.9,
        neardup=False,  # keep the integration test light; dd-chain has its own soak
        resample=False,
    )
    n_curated = curated.count()
    assert 0 < n_curated <= docs.count()

    out = str(tmp_path / "exp")
    stats = run_export_job(
        spark, curated.select("doc_id", "text"), out,
        seq_len=16, rows_per_shard=500, seed=7,
    )
    shards = spark.read.parquet(f"{out}/shards")
    # every curated doc (non-empty) appears; no non-curated doc leaks in
    doc_ids_exp = {r["doc_id"] for r in shards.select("doc_id").distinct().collect()}
    doc_ids_cur = {r["doc_id"] for r in curated.select("doc_id").collect()}
    assert doc_ids_exp <= doc_ids_cur
    assert len(doc_ids_cur - doc_ids_exp) == 0  # fixture texts are non-empty
    # permutation completeness over the composed output
    n = shards.count()
    assert n == stats["n_chunks"]
    assert shards.select("pos").distinct().count() == n


def test_export_forced_rerun_removes_stale_shards(spark, tmp_path):
    """Static overwrite regression: a forced (resume=False) rerun over a
    SMALLER input must not leave the old run's higher-numbered shard
    partitions on disk — dynamic overwrite did, and the read-back manifest
    then blessed a mix of two corpora."""
    out = str(tmp_path / "exp")
    docs = _docs(spark)
    big = run_export_job(spark, docs, out, seq_len=16, rows_per_shard=200, seed=7)
    small_docs = docs.limit(50)
    small = run_export_job(
        spark, small_docs, out, seq_len=16, rows_per_shard=200, seed=7,
        resume=False,
    )
    assert small["n_shards"] < big["n_shards"]
    shards = spark.read.parquet(f"{out}/shards")
    n = shards.count()
    assert n == small["n_chunks"]
    # positions are exactly 0..n-1 again — no stale rows from the big run
    assert shards.agg(F.max("pos")).collect()[0][0] == n - 1
    assert shards.select("pos").distinct().count() == n


def test_export_drops_empty_and_whitespace_docs(spark, tmp_path):
    """split('', '\\s+') yields [''], so a bare size>0 guard emits a ghost
    chunk for empty docs; the shared kernel must drop them entirely."""
    rows = [(0, "real words here"), (1, ""), (2, "   "), (3, "x")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "exp")
    stats = run_export_job(spark, docs, out, seq_len=2, rows_per_shard=100, seed=7)
    shards = spark.read.parquet(f"{out}/shards")
    assert {r["doc_id"] for r in shards.select("doc_id").distinct().collect()} == {0, 3}
    assert stats["n_tokens"] == 4  # 3 + 1, no ghost tokens from docs 1/2


def test_export_empty_input_raises_clearly(spark, tmp_path):
    docs = _docs(spark).filter(F.lit(False))
    with pytest.raises(ValueError, match="yields no chunks"):
        run_export_job(spark, docs, str(tmp_path / "exp"), seq_len=16,
                       rows_per_shard=100, seed=7)


def test_export_params_adoptable_after_crashed_first_run(spark, tmp_path):
    """A first run that died before the manifest committed leaves only the
    params record; a rerun with different params must proceed (nothing
    durable exists to mix with) and record its own, while drift against a
    COMMITTED manifest still raises (covered by
    test_export_params_drift_raises)."""
    import json
    import os

    out = str(tmp_path / "exp")
    os.makedirs(out)
    with open(os.path.join(out, "_params.json"), "w") as f:
        json.dump({"seq_len": 999, "rows_per_shard": 1, "seed": 0}, f)
    stats = run_export_job(
        spark, _docs(spark), out, seq_len=16, rows_per_shard=500, seed=7
    )
    assert not stats["resumed"] and stats["n_chunks"] > 0
    with open(os.path.join(out, "_params.json")) as f:
        assert json.load(f) == {"seq_len": 16, "rows_per_shard": 500, "seed": 7}


def test_export_tab_newline_only_docs_dropped(spark, tmp_path):
    """Regression for the trim-based prefilter: tab-/newline-only docs must
    yield zero chunks (split('\\t','\\s+') gives ['',''] — two phantom
    tokens under the old guard)."""
    rows = [(0, "a b"), (1, "\t"), (2, "\n\n"), (3, " \t \n ")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "exp")
    stats = run_export_job(spark, docs, out, seq_len=2, rows_per_shard=10, seed=7)
    shards = spark.read.parquet(f"{out}/shards")
    assert {r["doc_id"] for r in shards.collect()} == {0}
    assert stats["n_tokens"] == 2


def test_export_crash_between_shards_and_manifest_not_blessed(spark, tmp_path):
    """If a forced rerun dies after the shard overwrite but before the
    manifest write, a later resume must NOT serve the previous run's
    manifest: the manifest is invalidated before shards are touched."""
    import os

    out = str(tmp_path / "exp")
    docs = _docs(spark)
    run_export_job(spark, docs, out, seq_len=16, rows_per_shard=200, seed=7)
    # simulate the crash window: manifest must already be gone right after
    # the shard write of a rerun — emulate by invoking the rerun and killing
    # it is flaky, so instead verify the ordering contract directly:
    # the non-resume path removes the manifest before writing shards.
    import greenocr_spark.plans.export as ex

    calls = []
    orig_delete = ex.delete_path

    def spy(spark, path):
        calls.append(("rm", os.path.basename(path)))
        return orig_delete(spark, path)

    ex.delete_path = spy
    try:
        run_export_job(spark, docs.limit(50), out, seq_len=16,
                       rows_per_shard=200, seed=7, resume=False)
    finally:
        ex.delete_path = orig_delete
    assert ("rm", "manifest") in calls
    # and the final state is consistent: manifest describes the small run
    small = read_export_manifest(spark, out)
    assert sum(r["n_rows"] for r in small) == spark.read.parquet(f"{out}/shards").count()


def test_export_resume_detects_deleted_shards(spark, tmp_path):
    # ADVICE r03: a manifest surviving a partial shards deletion must NOT be
    # blessed as a no-op resume — the fast-path spot-checks shard partition
    # dirs against the manifest and falls through to a full recompute.
    import os
    import shutil

    out = str(tmp_path / "exp")
    docs = _docs(spark)
    s1 = run_export_job(spark, docs, out, seq_len=16, rows_per_shard=500, seed=7)
    shard_dirs = [d for d in os.listdir(f"{out}/shards") if d.startswith("shard_id=")]
    shutil.rmtree(f"{out}/shards/{shard_dirs[0]}")
    s2 = run_export_job(spark, docs, out, seq_len=16, rows_per_shard=500, seed=7)
    assert not s2["resumed"]
    assert s2["n_chunks"] == s1["n_chunks"]
    # and the rebuilt export resumes cleanly again
    s3 = run_export_job(spark, docs, out, seq_len=16, rows_per_shard=500, seed=7)
    assert s3["resumed"]


def test_export_resume_tolerates_stray_shard_dirs(spark, tmp_path):
    # a non-numeric partition dir (HIVE default partition, stray temp dir)
    # under shards/ must not crash the resume check (ADVICE r04) — resume
    # still no-ops because every manifest shard is present.
    out = str(tmp_path / "exp")
    docs = _docs(spark)
    run_export_job(spark, docs, out, seq_len=16, rows_per_shard=500, seed=7)
    h1 = _layout_hash(spark, out)
    os.makedirs(f"{out}/shards/shard_id=__HIVE_DEFAULT_PARTITION__", exist_ok=True)
    os.makedirs(f"{out}/shards/shard_id=3.tmp-xyz", exist_ok=True)
    s = run_export_job(spark, docs, out, seq_len=16, rows_per_shard=500, seed=7)
    assert s["resumed"] is True
    assert _layout_hash(spark, out) == h1
