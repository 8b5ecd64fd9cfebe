"""Spark integration tests — the north-rule gates (SURVEY.md §5.2).

1. Golden byte-identity: Spark extract_pages output == pure-Python reference
   extractor output, per url, byte-for-byte, over the full degradation matrix.
2. Resume invariance: run job → delete half the manifest → re-run → final
   table identical to an uninterrupted run (X7 anti-join resume).
3. Salt invariance: extracted text independent of n_salts.
4. Skew spread: the Zipf-heavy host (~30% of rows) is spread across many
   partitions by the salted key, never melted into one task.
"""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest

from pyspark.sql import functions as F

from greenocr_spark.extractor.core import extract_document
from greenocr_spark.fixtures import make_pages, write_pages_parquet
from greenocr_spark.functions.sqlfns import salted_part_id
from greenocr_spark.operators.extract import extract_pages
from greenocr_spark.plans.job import run_extract_job

N_GOLDEN = 200
N_JOB = 1000


@pytest.fixture(scope="module")
def pages_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    write_pages_parquet(p, N_JOB)
    return p


def test_golden_byte_identity(spark, tmp_path):
    p = str(tmp_path / "golden.parquet")
    write_pages_parquet(p, N_GOLDEN)
    got = {
        r["url"]: r["text"]
        for r in extract_pages(spark.read.parquet(p)).select("url", "text").collect()
    }
    rows = make_pages(N_GOLDEN)
    assert len(got) == N_GOLDEN
    for row in rows:
        expected = extract_document(row["html"])["text"]
        assert got[row["url"]] == expected, row["url"]


def test_golden_spans_match(spark, tmp_path):
    p = str(tmp_path / "golden_spans.parquet")
    write_pages_parquet(p, 50)
    got = {
        r["url"]: [(s["block_idx"], s["start"], s["end"], s["cls"]) for s in r["spans"]]
        for r in extract_pages(spark.read.parquet(p)).select("url", "spans").collect()
    }
    for row in make_pages(50):
        expected = [tuple(s) for s in extract_document(row["html"])["spans"]]
        assert got[row["url"]] == expected, row["url"]


def test_arrow_batches_bounded_by_bytes(spark):
    """spark.sql.execution.arrow.maxBytesPerBatch splits a partition's html
    into several Arrow batches; extract_pages' rows are the same either way."""
    rows = [(r["url"], r["html"]) for r in make_pages(N_GOLDEN)]
    df = spark.createDataFrame(rows, "url string, html binary").coalesce(1)

    def batch_rows(batches):
        for b in batches:
            yield pd.DataFrame({"n": [len(b)]})

    def run():
        batches = [r["n"] for r in df.mapInPandas(batch_rows, "n long").collect()]
        ext = extract_pages(df, with_links=True, with_anchors=True).collect()
        return batches, sorted(tuple(r) for r in ext)

    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    whole, expected = run()
    before = spark.conf.get(key)
    spark.conf.set(key, str(64 << 10))
    try:
        split, got = run()
    finally:
        spark.conf.set(key, before)
    assert whole == [N_GOLDEN]
    assert len(split) > 4 and sum(split) == N_GOLDEN
    assert got == expected


def _final_state(spark, out_dir):
    df = spark.read.parquet(os.path.join(out_dir, "extracted"))
    return sorted((r["url"], r["text"]) for r in df.select("url", "text").collect())


def test_resume_invariance(spark, pages_path, tmp_path):
    pages = spark.read.parquet(pages_path)

    full_dir = str(tmp_path / "full")
    run_extract_job(spark, pages, full_dir, n_parts=16, n_salts=4)
    full = _final_state(spark, full_dir)
    assert len(full) == N_JOB

    # interrupted run: complete, then forge a "crash" by deleting half the
    # manifest rows AND the corresponding output partitions
    part_dir = str(tmp_path / "interrupted")
    run_extract_job(spark, pages, part_dir, n_parts=16, n_salts=4)
    manifest = spark.read.parquet(os.path.join(part_dir, "manifest"))
    keep = manifest.filter(F.col("part_id") % 2 == 0)
    dropped_parts = [r["part_id"] for r in manifest.filter(F.col("part_id") % 2 == 1).select("part_id").collect()]
    mpath = os.path.join(part_dir, "manifest")
    keep_rows = keep.collect()
    for f in glob.glob(os.path.join(mpath, "*")):
        os.remove(f)
    spark.createDataFrame(keep_rows, manifest.schema).write.mode("overwrite").parquet(mpath)
    for pid in dropped_parts:
        for f in glob.glob(os.path.join(part_dir, "extracted", f"part_id={pid}", "*")):
            os.remove(f)

    # resume: must redo exactly the dropped partitions and converge
    run_extract_job(spark, pages, part_dir, n_parts=16, n_salts=4)
    assert _final_state(spark, part_dir) == full

    # the resume run's manifest rows cover only the previously-missing parts
    m2 = spark.read.parquet(mpath)
    assert sorted(r["part_id"] for r in m2.select("part_id").distinct().collect()) == list(range(16))


def test_resume_skips_done_partitions(spark, pages_path, tmp_path):
    out = str(tmp_path / "noop_resume")
    pages = spark.read.parquet(pages_path)
    run_extract_job(spark, pages, out, n_parts=8, n_salts=4)
    before = _final_state(spark, out)
    n_manifest_before = spark.read.parquet(os.path.join(out, "manifest")).count()
    # second run: everything done → no new manifest rows, output unchanged
    run_extract_job(spark, pages, out, n_parts=8, n_salts=4)
    assert _final_state(spark, out) == before
    assert spark.read.parquet(os.path.join(out, "manifest")).count() == n_manifest_before


def test_salt_invariance(spark, pages_path, tmp_path):
    pages = spark.read.parquet(pages_path)
    a = run_extract_job(spark, pages, str(tmp_path / "s1"), n_parts=16, n_salts=1)
    b = run_extract_job(spark, pages, str(tmp_path / "s8"), n_parts=16, n_salts=8)
    sa = sorted((r["url"], r["text"]) for r in a.select("url", "text").collect())
    sb = sorted((r["url"], r["text"]) for r in b.select("url", "text").collect())
    assert sa == sb


def test_skew_spread(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    n_parts, n_salts = 32, 8
    dist = (
        pages.withColumn("part_id", salted_part_id(F.col("url"), n_parts, n_salts))
        .groupBy("part_id")
        .count()
        .collect()
    )
    counts = sorted((r["count"] for r in dist), reverse=True)
    # the heavy host alone is ~30% of rows; without salting its partition
    # would hold >300 of 1000 rows. With salting no partition may dominate.
    assert counts[0] < 0.30 * N_JOB
    # heavy host actually spread across multiple partitions
    heavy = (
        pages.filter(F.col("url").startswith("https://big.example.com"))
        .withColumn("part_id", salted_part_id(F.col("url"), n_parts, n_salts))
        .select("part_id")
        .distinct()
        .count()
    )
    assert heavy >= n_salts // 2


def test_entry_smoke(spark):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    df = mod.entry(spark)
    assert df.count() > 0
    assert {"url", "text"} <= set(df.columns)


def test_streaming_face_hourly_metrics(spark, pages_path, tmp_path):
    # watermarked tumbling-window ingest metrics, availableNow drain,
    # checkpointed — results equal the batch computation over the same data
    import os as _os

    from pyspark.sql import functions as F

    from greenocr_spark.streaming.face import (
        hourly_ingest_metrics,
        run_available_now,
        stream_pages,
    )

    src = str(tmp_path / "stream_src")
    _os.makedirs(src)
    _os.symlink(pages_path, _os.path.join(src, "pages.parquet"))
    # complete mode: append-mode windowed aggs only emit once a LATER batch
    # moves the watermark past the window end — a single availableNow drain
    # emits nothing in append mode
    qh = run_available_now(
        hourly_ingest_metrics(stream_pages(spark, src)),
        "t_hourly", str(tmp_path / "ckpt"), output_mode="complete",
    )
    qh.awaitTermination(120)
    got = {
        (r["hour"], r["lang"]): (r["n_pages"], r["bytes_in"])
        for r in spark.table("t_hourly").collect()
    }
    batch = (
        spark.read.parquet(pages_path)
        .groupBy(
            F.date_trunc("hour", F.col("warc_ts").cast("timestamp")).alias("hour"),
            "lang",
        )
        .agg(F.count("*").alias("n"), F.sum(F.length("html")).alias("b"))
        .collect()
    )
    want = {(r["hour"], r["lang"]): (r["n"], r["b"]) for r in batch}
    assert got == want


def test_resume_heals_write_without_manifest(spark, pages_path, tmp_path):
    # crash window: data partition committed but manifest append never ran.
    # Resume must re-extract those partitions (idempotent via dynamic
    # partition overwrite) and converge to the uninterrupted state.
    import shutil

    out = str(tmp_path / "heal")
    pages = spark.read.parquet(pages_path)
    run_extract_job(spark, pages, out, n_parts=8, n_salts=4)
    want = _final_state(spark, out)

    # forge the crash: wipe the whole manifest, keep all data partitions
    shutil.rmtree(os.path.join(out, "manifest"))

    run_extract_job(spark, pages, out, n_parts=8, n_salts=4)
    assert _final_state(spark, out) == want
    m = spark.read.parquet(os.path.join(out, "manifest"))
    assert m.filter(F.col("status") == "done").select("part_id").distinct().count() == 8


def test_ingest_dedup_append(spark, tmp_path):
    # ingestion job: normalize + salted key + anti-join dedup + append
    from greenocr_spark.plans.ingest import ingest_pages

    rows = [
        ("https://a.example.com/1", "2025-01-01 00:00:00", b"<p>one</p>", "en"),
        ("https://a.example.com/2", "2025-01-01 00:00:01", b"<p>two</p>", "de"),
        ("https://a.example.com/3", "2025-01-01 00:00:02", b"", "en"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts string, payload binary, lang string").withColumn(
        "warc_ts", F.col("warc_ts").cast("timestamp")
    )
    tgt = str(tmp_path / "pages_store")
    assert ingest_pages(spark, df, tgt, n_parts=4) == 3
    # re-ingest the same batch + one new row: only the new row lands
    rows2 = rows + [("https://a.example.com/4", "2025-01-01 00:00:03", b"<p>four</p>", "fr")]
    df2 = spark.createDataFrame(rows2, "url string, warc_ts string, payload binary, lang string").withColumn(
        "warc_ts", F.col("warc_ts").cast("timestamp")
    )
    assert ingest_pages(spark, df2, tgt, n_parts=4) == 1
    stored = spark.read.parquet(tgt)
    assert stored.count() == 4
    # empty payload normalized to NULL html, not dropped
    assert stored.filter(F.col("html").isNull()).count() == 1
    assert set(stored.columns) >= {"url", "warc_ts", "html", "text", "lang", "part_id"}


def test_ingest_unreadable_store_raises(spark, tmp_path):
    # a corrupt pages store is not a first ingest: skipping dedup would
    # re-append every row already stored
    from greenocr_spark.plans.ingest import ingest_pages

    df = spark.createDataFrame(
        [("https://a.example.com/1", b"<p>one</p>")], "url string, payload binary"
    ).withColumn("warc_ts", F.current_timestamp())
    tgt = str(tmp_path / "pages_store")
    assert ingest_pages(spark, df, tgt, n_parts=4) == 1
    (stored,) = glob.glob(f"{tgt}/part_id=*/*.parquet")
    with open(stored, "wb") as f:
        f.write(b"not a parquet file" * 8)
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        ingest_pages(spark, df, tgt, n_parts=4)
    assert glob.glob(f"{tgt}/part_id=*/*.parquet") == [stored]  # nothing appended


def test_read_parquet_or_none(spark, tmp_path):
    # None only for a missing path; a known schema reads an empty dir
    from greenocr_spark.sources.pages import read_parquet_or_none

    assert read_parquet_or_none(spark, str(tmp_path / "missing")) is None
    empty = tmp_path / "empty"
    empty.mkdir()
    got = read_parquet_or_none(spark, str(empty), "url string")
    assert got.columns == ["url"] and got.count() == 0
    with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
        read_parquet_or_none(spark, str(empty))


def test_adaptive_salting(spark, pages_path):
    # hot hosts (>5% of rows) get salted across many partitions; cold hosts
    # stay on a single partition (locality preserved)
    from greenocr_spark.functions.sqlfns import adaptive_salted_part_id, host_expr

    pages = spark.read.parquet(pages_path)
    keyed, hot = adaptive_salted_part_id(pages, "url", n_parts=32, n_salts=8)
    assert "big.example.com" in hot

    per_host = (
        keyed.withColumn("h", host_expr("url"))
        .groupBy("h")
        .agg(F.countDistinct("part_id").alias("nparts"), F.count("*").alias("n"))
        .collect()
    )
    by_host = {r["h"]: r for r in per_host}
    assert by_host["big.example.com"]["nparts"] >= 4  # hot host spread
    for h, r in by_host.items():
        if h not in hot:
            assert r["nparts"] == 1, h  # cold hosts keep locality

    # no partition melts: max partition strictly below the hot host's share
    dist = sorted(
        (r["count"] for r in keyed.groupBy("part_id").count().collect()), reverse=True
    )
    assert dist[0] < by_host["big.example.com"]["n"]


def test_adaptive_job_matches_uniform(spark, pages_path, tmp_path):
    pages = spark.read.parquet(pages_path)
    a = run_extract_job(spark, pages, str(tmp_path / "u"), n_parts=16)
    b = run_extract_job(spark, pages, str(tmp_path / "a"), n_parts=16, salting="adaptive")
    sa = sorted((r["url"], r["text"]) for r in a.select("url", "text").collect())
    sb = sorted((r["url"], r["text"]) for r in b.select("url", "text").collect())
    assert sa == sb
    # adaptive resume is a no-op after completion
    n_before = spark.read.parquet(str(tmp_path / "a" / "manifest")).count()
    run_extract_job(spark, pages, str(tmp_path / "a"), n_parts=16, salting="adaptive")
    assert spark.read.parquet(str(tmp_path / "a" / "manifest")).count() == n_before


def test_calibration_recovers_default_config(spark, tmp_path):
    # the training-loop analog: grid-fit scorer config on labeled fixture
    # pages; the frozen default (threshold .3, neargood 30) must be among
    # the top scorers since fixtures' intended text was authored under it
    from greenocr_spark.plans.calibrate import calibrate, default_grid

    p = str(tmp_path / "labeled.parquet")
    write_pages_parquet(p, 300)
    labeled = spark.read.parquet(p).filter(F.col("text").isNotNull())
    best_cfg, acc, rows = calibrate(labeled)
    # charset-quirk labels intentionally diverge (ä mutation applied after
    # the label was fixed), capping attainable accuracy below 1.0
    assert acc >= 0.85
    by_id = {r["cfg_id"]: r for r in rows}
    default_id = next(
        i for i, c in enumerate(default_grid())
        if c.threshold == 0.3 and c.neargood_chars == 30.0
    )
    assert by_id[default_id]["accuracy"] == acc  # default ties the best
    assert all(r["n"] == rows[0]["n"] for r in rows)


def test_job_report(spark, pages_path, tmp_path):
    from greenocr_spark.plans.report import job_report, partition_report

    out = str(tmp_path / "rep")
    run_extract_job(spark, spark.read.parquet(pages_path), out, n_parts=8, n_salts=4)
    r = job_report(spark, out).first()
    assert r["n_docs"] == N_JOB
    assert r["n_partitions"] == 8
    assert 0 < r["keep_ratio"] < 1
    assert 0 < r["content_block_ratio"] < 1
    assert r["max_over_mean_docs"] < 2.5  # salted balance
    assert r["n_runs"] == 1
    parts = partition_report(spark, out)
    assert parts.count() == 8
    assert parts.first()["bytes_in"] >= parts.orderBy("bytes_in").first()["bytes_in"]


def test_empty_input_job(spark, tmp_path):
    # empty pages table: job must return an empty frame, not crash on the
    # unreadable empty parquet dir; a later non-empty run works in place
    out = str(tmp_path / "empty")
    empty = spark.createDataFrame([], "url string, html binary")
    res = run_extract_job(spark, empty, out, n_parts=4)
    assert res.count() == 0
    assert "text" in res.columns
    p = str(tmp_path / "p.parquet")
    write_pages_parquet(p, 50)
    res2 = run_extract_job(spark, spark.read.parquet(p), out, n_parts=4)
    assert res2.count() == 50


def test_grouped_calibration_weighted_merge(spark, tmp_path):
    from greenocr_spark.plans.calibrate import calibrate_grouped, default_grid

    p = str(tmp_path / "lg.parquet")
    write_pages_parquet(p, 240)
    labeled = spark.read.parquet(p).filter(F.col("text").isNotNull())
    merged, per_group = calibrate_grouped(labeled, "lang")
    assert set(per_group) == {"en", "de", "et", "es", "fr"}
    total = sum(n for _, _, n in per_group.values())
    assert total == labeled.count()
    thr_vals = [c.threshold for c, _, _ in per_group.values()]
    assert min(thr_vals) <= merged.threshold <= max(thr_vals)  # convex combo
    grid_thrs = {c.threshold for c in default_grid()}
    for cfg, acc, n in per_group.values():
        assert cfg.threshold in grid_thrs and n > 0 and acc > 0.5


def test_pages_io_roundtrip(spark, tmp_path):
    from greenocr_spark.sources.pages import (
        iceberg_available,
        read_pages,
        write_pages,
    )

    # sandbox has no Iceberg runtime — the probe must say so, not raise
    assert iceberg_available(spark) is False

    p = str(tmp_path / "store")
    rows = [("https://x/1", b"<p>a</p>"), ("https://x/2", b"<p>b</p>")]
    df = spark.createDataFrame(rows, "url string, html binary")
    write_pages(df, p)
    assert read_pages(spark, p).count() == 2
    write_pages(df.limit(1), p)  # append mode
    assert read_pages(spark, p).count() == 3


def test_corpus_hash_frozen():
    """The 1500-page seed-42 fixture corpus is the extractor's byte-identity
    anchor. Two frozen literals: the round-2 sequential sha256 (any extractor
    semantics change breaks it) and the order-insensitive xor reduction that
    ex4_corpus_hash's driver oracle pins (single-node pure-Python here; the
    distributed Spark pipeline must land on the same value via the driver)."""
    import hashlib
    import json

    seq = hashlib.sha256()
    acc = 0
    for p in make_pages(1500, seed=42):
        r = extract_document(p["html"])
        seq.update(p["url"].encode())
        seq.update(r["text"].encode())
        seq.update(json.dumps(r["spans"]).encode())
        seq.update(
            str((r["n_blocks"], r["n_content"], r["n_boilerplate"], r["kind"])).encode()
        )
        spans_str = ";".join(f"{b},{s},{e},{c}" for (b, s, e, c) in r["spans"])
        canon = "\x1f".join(
            [
                p["url"],
                r["text"],
                spans_str,
                f'{r["n_blocks"]},{r["n_content"]},{r["n_boilerplate"]},{r["kind"]}',
            ]
        )
        acc ^= int(hashlib.sha256(canon.encode("utf-8")).hexdigest()[:15], 16)
    assert (
        seq.hexdigest()
        == "b4de3c885388d051213ef3db03f8c6decbe0bc6f25056f3165d696996c0eb5c2"
    )
    assert acc == 1061150180202206482  # ex4_corpus_hash oracle literal


def test_fixture400_hashes_frozen():
    """Pure-Python golden literals for the 400-page seed-42 fixture: the
    full-corpus xor hash pinned by ex2_extract_fixture_pages /
    st3_stream_extract's driver oracles, and the PDF-branch subset pinned by
    ex3_extract_pdf_branch's (VERDICT r04 task 2 — every battery entry
    hash-checkable)."""
    import hashlib

    def xor_reduce(pages):
        acc, n = 0, 0
        for p in pages:
            r = extract_document(p["html"])
            spans_str = ";".join(f"{b},{s},{e},{c}" for (b, s, e, c) in r["spans"])
            canon = "\x1f".join(
                [
                    p["url"],
                    r["text"],
                    spans_str,
                    f'{r["n_blocks"]},{r["n_content"]},{r["n_boilerplate"]},{r["kind"]}',
                ]
            )
            acc ^= int(hashlib.sha256(canon.encode("utf-8")).hexdigest()[:15], 16)
            n += 1
        return acc, n

    pages = make_pages(400, seed=42)
    assert xor_reduce(pages) == (387176475572252077, 400)
    pdf = [p for p in pages if p["html"].startswith(b"%PDF-")]
    assert xor_reduce(pdf) == (903280726741984231, 25)


def test_adaptive_resume_rejects_legacy_hot_hosts(spark, pages_path, tmp_path):
    """Resuming an adaptive-salted job over a hot_hosts map written by an
    older layout (single column, different part_id formula) must fail with
    an explicit error, not a KeyError mid-resume."""
    out = str(tmp_path / "legacy")
    pages = spark.read.parquet(pages_path)
    # simulate the pre-upgrade artifact: only column 'h'
    spark.createDataFrame([("big.example.com",)], "h string").coalesce(
        1
    ).write.parquet(f"{out}/hot_hosts")
    with pytest.raises(ValueError, match="incompatible hot_hosts layout"):
        run_extract_job(spark, pages, out, n_parts=16, salting="adaptive")


def test_adaptive_resume_with_drifted_skew(spark, pages_path, tmp_path):
    # VERDICT r03 task 8: the one salting scenario not yet pinned — hot map
    # learned at T0, corpus skew changes before a T1 resume. Contract: the
    # persisted map is REUSED verbatim (part_id assignment stays stable
    # under the committed manifest), the new hot host routes as a cold host
    # through the old map, partitions marked done are skipped, and the rest
    # complete — drift changes the balance, never the routing.
    from greenocr_spark.functions.sqlfns import hot_salted_part_id

    out = str(tmp_path / "drift")
    pages1 = spark.read.parquet(pages_path)
    run_extract_job(spark, pages1, out, n_parts=16, salting="adaptive")
    hot_before = sorted(
        (r["h"], r["s"]) for r in spark.read.parquet(f"{out}/hot_hosts").collect()
    )

    # simulate a crash: partitions with odd part_id never committed
    man_dir = f"{out}/manifest"
    man = spark.read.parquet(man_dir)
    kept = [tuple(r) for r in man.filter(F.col("part_id") % 2 == 0).collect()]
    spark.createDataFrame(kept, man.schema).write.mode("overwrite").parquet(man_dir)
    done_parts = {p for (p, *_rest) in []} | {
        r[man.columns.index("part_id")] for r in kept
    }

    # T1 drift: a previously-unseen host floods the corpus
    from pyspark.sql import Window

    flood = (
        pages1.limit(40)
        .withColumn("rn", F.row_number().over(Window.orderBy("url")))
        .select(
            F.concat(F.lit("https://flood.example.com/p"),
                     F.col("rn").cast("string")).alias("url"),
            "warc_ts", "html", "text", "lang",
        )
    )
    pages2 = pages1.unionByName(flood)
    final = run_extract_job(spark, pages2, out, n_parts=16, salting="adaptive")

    # the learned map did not move (and did not learn the flood host)
    hot_after = sorted(
        (r["h"], r["s"]) for r in spark.read.parquet(f"{out}/hot_hosts").collect()
    )
    assert hot_after == hot_before
    assert all(h != "flood.example.com" for h, _ in hot_after)

    got_urls = [r["url"] for r in final.select("url").collect()]
    assert len(got_urls) == len(set(got_urls))  # no double-extraction
    # every original url present exactly once (done partitions kept their
    # output; crashed ones re-extracted)
    orig_urls = {r["url"] for r in pages1.select("url").collect()}
    assert orig_urls <= set(got_urls)
    # flood rows: partition-grain resume semantics — rows routed (by the
    # OLD map) into still-pending partitions extract; rows landing in
    # already-done partitions are skipped this run
    hot_map = dict(hot_before)
    flood_parts = {
        r["part_id"]
        for r in flood.withColumn(
            "part_id", hot_salted_part_id("url", hot_map, 16, 8)
        ).select("part_id").collect()
    }
    expected_flood = 40 if (flood_parts - done_parts) == flood_parts else None
    flood_got = [u for u in got_urls if u.startswith("https://flood.")]
    if flood_parts <= done_parts:
        assert flood_got == []
    elif expected_flood:
        assert len(flood_got) == 40
    else:  # split across done+pending — at least the pending side landed
        assert 0 < len(flood_got) < 40

    # and a further resume with the same drifted input is a no-op
    n_rows = spark.read.parquet(f"{out}/manifest").count()
    run_extract_job(spark, pages2, out, n_parts=16, salting="adaptive")
    assert spark.read.parquet(f"{out}/manifest").count() == n_rows


def test_extract_job_empty_input_links_schema(spark, tmp_path):
    """run_extract_job(with_links=True) over an empty corpus must return a
    frame with the SAME schema as the non-empty path (outlinks/n_links
    present; ADVICE r04)."""
    from greenocr_spark.plans.job import run_extract_job

    empty = spark.createDataFrame([], "url string, html binary")
    out = str(tmp_path / "empty_links")
    got = run_extract_job(spark, empty, out, n_parts=4, n_salts=2, with_links=True)
    assert {"outlinks", "n_links"} <= set(got.columns)
    assert got.count() == 0
    # control: text-only empty path has no link columns
    got2 = run_extract_job(
        spark, empty, str(tmp_path / "empty_plain"), n_parts=4, n_salts=2
    )
    assert "outlinks" not in got2.columns
