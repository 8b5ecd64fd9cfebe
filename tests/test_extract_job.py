"""run_extract_job's plan budget and lineage: Spark jobs per run, manifest
rows per run, and the host-stat action behind adaptive salting."""

from __future__ import annotations

import math
import os
import random
import re
import shutil
from urllib.parse import urlsplit

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

import greenocr_spark.plans.job as job_module
from greenocr_spark.fixtures import ROW_GROUP_BYTES, pages_arrow_table, write_pages_parquet
from greenocr_spark.functions.sqlfns import adaptive_salted_part_id, hot_salted_part_id
from greenocr_spark.plans.job import run_extract_job
from greenocr_spark.sources.pages import limit_pages

N_PAGES = 400
N_PARTS = 16


@pytest.fixture(scope="module")
def pages_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("job_pages") / "pages.parquet")
    write_pages_parquet(p, N_PAGES)
    return p


def _counted(spark, group, fn):
    """(fn(), Spark jobs fn ran) — counted by job group on the driver."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed by the async listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def _manifest_rows(spark, out):
    """Manifest rows without run_id, sorted."""
    m = spark.read.parquet(f"{out}/manifest").drop("run_id")
    return sorted(tuple(r) for r in m.collect())


def _lose_partitions(spark, src, dst, seed="lost"):
    """Copy a committed job and lose 1/8 of its partitions — their data
    dirs and manifest rows, as a crash before the manifest commit would.
    Returns the lost part_ids."""
    shutil.copytree(src, dst)
    m = spark.read.parquet(f"{dst}/manifest")
    rows = m.collect()
    parts = sorted(r["part_id"] for r in rows)
    lost = set(random.Random(seed).sample(parts, max(1, len(parts) // 8)))
    for p in lost:
        shutil.rmtree(f"{dst}/extracted/part_id={p}")
    kept = [tuple(r) for r in rows if r["part_id"] not in lost]
    shutil.rmtree(f"{dst}/manifest")
    spark.createDataFrame(kept, m.schema).coalesce(1).write.parquet(f"{dst}/manifest")
    return lost


def _table(df):
    return sorted((r["url"], r["text"], r["part_id"]) for r in df.collect())


def test_extract_job_spark_job_counts(spark, pages_path, tmp_path):
    """The resume path reads the done set once, runs no emptiness pass and
    aggregates only this run's partitions; adaptive host stats are one
    action. Ceilings are this plan's counts on local[4]; the plan before
    it ran 13 / 8 / 18 (adaptive fresh / no-op / 1/8 resume) and 7 / 6
    (uniform fresh / no-op) jobs here."""
    pages = spark.read.parquet(pages_path)

    def job(out, **kw):
        return lambda: run_extract_job(spark, pages, out, n_parts=N_PARTS, **kw)

    a, u = str(tmp_path / "a"), str(tmp_path / "u")
    counts = {}
    fresh, counts["fresh_adaptive"] = _counted(spark, "fa", job(a, salting="adaptive"))
    _, counts["noop_adaptive"] = _counted(spark, "na", job(a, salting="adaptive"))
    _lose_partitions(spark, a, str(tmp_path / "a8"))
    resumed, counts["resume_adaptive"] = _counted(
        spark, "ra", job(str(tmp_path / "a8"), salting="adaptive")
    )
    _, counts["fresh_uniform"] = _counted(spark, "fu", job(u))
    _, counts["noop_uniform"] = _counted(spark, "nu", job(u))

    # the uniform layout fills every part_id, so its no-op finds them all
    # done and returns without a scan; the adaptive one leaves some empty,
    # so its no-op runs the (empty) pipeline and appends nothing
    assert len(_manifest_rows(spark, u)) == N_PARTS > len(_manifest_rows(spark, a))
    ceilings = {
        "fresh_adaptive": 9,
        "noop_adaptive": 6,
        "resume_adaptive": 9,
        "fresh_uniform": 5,
        "noop_uniform": 2,
    }
    over = {k: (n, ceilings[k]) for k, n in counts.items() if n > ceilings[k]}
    assert not over, f"jobs over their ceiling: {over}"
    assert _table(resumed) == _table(fresh)


def test_extract_job_manifest_rows(spark, pages_path, tmp_path):
    """One manifest row per partition, appended only by the run that
    completes it: a fresh run writes the per-partition aggregates of its
    output, a 1/8 resume writes exactly the lost partitions' rows again,
    and a resume=False rerun over a committed out_dir appends nothing for
    partitions already done."""
    pages = spark.read.parquet(pages_path)
    out = str(tmp_path / "m")
    table = run_extract_job(spark, pages, out, n_parts=N_PARTS, n_salts=4)
    expected = sorted(
        tuple(r)
        for r in table.groupBy("part_id")
        .agg(
            F.lit("done"),
            F.count("*"),
            F.sum("n_content"),
            F.sum("n_boilerplate"),
            F.sum("bytes_in"),
            F.sum("bytes_out"),
        )
        .collect()
    )
    fresh = _manifest_rows(spark, out)
    assert fresh == expected
    assert len(fresh) == N_PARTS and sum(r[2] for r in fresh) == N_PAGES
    assert spark.read.parquet(f"{out}/manifest").select("run_id").distinct().count() == 1

    resumed = str(tmp_path / "m8")
    lost = _lose_partitions(spark, out, resumed)
    run_extract_job(spark, pages, resumed, n_parts=N_PARTS, n_salts=4, run_id="r2")
    assert _manifest_rows(spark, resumed) == fresh
    new = spark.read.parquet(f"{resumed}/manifest").where(F.col("run_id") == "r2")
    assert {r["part_id"] for r in new.collect()} == lost

    run_extract_job(spark, pages, out, n_parts=N_PARTS, n_salts=4, resume=False)
    assert _manifest_rows(spark, out) == fresh

    forced = str(tmp_path / "mf8")
    _lose_partitions(spark, out, forced, seed="forced")
    run_extract_job(spark, pages, forced, n_parts=N_PARTS, n_salts=4, resume=False)
    assert _manifest_rows(spark, forced) == fresh


def _stage_graph(sc, stage_id):
    """Names of the operator scopes a stage ran (its DAG clusters)."""
    graph = sc._jsc.sc().statusStore().operationGraphForStage(stage_id)
    names, todo = [], [graph.rootCluster()]
    while todo:
        cluster = todo.pop()
        names.append(cluster.name())
        children = cluster.childClusters().iterator()
        while children.hasNext():
            todo.append(children.next())
    return names


def _python_stage_tasks(spark, group):
    """Task counts of the stages a job group ran MapInPandas in."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    return [
        info.numTasks
        for job in st.getJobIdsForGroup(group)
        for sid in st.getJobInfo(job).stageIds
        # a stage whose shuffle output an earlier job wrote is skipped (and
        # is the first the status store evicts in a long session: None)
        if (info := st.getStageInfo(sid)) is not None
        and info.numCompletedTasks
        and "MapInPandas" in _stage_graph(sc, sid)
    ]


def test_extraction_runs_once_per_input_split(spark, tmp_path, monkeypatch):
    """Every Python task pays a fixed worker start-up cost, so the
    extraction stage must be as wide as the input, not as n_parts: the
    plan extracts below the part_id shuffle, and the stage that runs
    MapInPandas has one task per input split."""
    src = tmp_path / "two_splits"
    src.mkdir()
    table = pages_arrow_table(200)
    pq.write_table(table.slice(0, 100), str(src / "a.parquet"))
    pq.write_table(table.slice(100), str(src / "b.parquet"))
    pages = spark.read.parquet(str(src))
    assert pages.rdd.getNumPartitions() == 2

    plans, write_extracted = [], job_module.write_extracted

    def capture(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return write_extracted(df, *args, **kwargs)

    monkeypatch.setattr(job_module, "write_extracted", capture)
    _counted(
        spark, "splits", lambda: run_extract_job(spark, pages, str(tmp_path / "o"), n_parts=16)
    )
    (plan,) = plans
    exchange = re.search(r"Exchange hashpartitioning\(part_id#\d+L?, 16\)", plan)
    assert exchange and plan.index("MapInPandas") > exchange.start(), plan
    assert _python_stage_tasks(spark, "splits") == [2]


def test_limited_input_extracts_on_every_core(spark, pages_path, tmp_path):
    """limit() gathers its rows into one partition; limit_pages spreads them
    over the cores again, so a limited job does not extract in one task."""
    pages = spark.read.parquet(pages_path)
    assert pages.limit(300).rdd.getNumPartitions() == 1
    cores = spark.sparkContext.defaultParallelism
    table, _ = _counted(
        spark,
        "limited",
        lambda: run_extract_job(spark, limit_pages(pages, 300), str(tmp_path / "o"), n_parts=16),
    )
    assert table.count() == 300
    assert _python_stage_tasks(spark, "limited") == [cores] and cores > 1


def test_fixture_pages_split_by_bytes(spark, tmp_path):
    """write_pages_parquet bounds its row groups (a split cannot cut one),
    so a fixture file larger than a split reads as several splits that all
    hold rows, not one busy task and empty ones."""
    path = write_pages_parquet(str(tmp_path / "pages.parquet"), 2000)
    groups = pq.ParquetFile(path).metadata
    assert groups.num_row_groups > 2
    assert all(
        groups.row_group(i).total_byte_size <= 1.1 * ROW_GROUP_BYTES
        for i in range(groups.num_row_groups)
    )
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    spark.conf.set(key, str(ROW_GROUP_BYTES))
    try:
        pages = spark.read.parquet(path)
        splits = pages.rdd.getNumPartitions()
        filled = pages.groupBy(F.spark_partition_id()).count().collect()
    finally:
        spark.conf.set(key, before)
    assert splits > 1 and len(filled) == splits
    assert sum(r["count"] for r in filled) == 2000


def test_extracted_partition_files_in_url_order(spark, pages_path, tmp_path):
    """Each part_id=<p> directory of a fresh adaptive job holds one file
    whose rows all salt to p, in ascending url order."""
    pages = spark.read.parquet(pages_path)
    out = str(tmp_path / "o")
    run_extract_job(spark, pages, out, n_parts=N_PARTS, salting="adaptive")
    stored = pq.read_table(f"{out}/hot_hosts")
    hot = dict(zip(stored["h"].to_pylist(), stored["s"].to_pylist()))
    salted = pages.select("url", hot_salted_part_id("url", hot, N_PARTS).alias("p"))
    expected = {r["url"]: r["p"] for r in salted.collect()}

    seen = 0
    for name in os.listdir(f"{out}/extracted"):
        if not name.startswith("part_id="):
            continue
        p = int(name.split("=", 1)[1])
        (data,) = [f for f in os.listdir(f"{out}/extracted/{name}") if f.endswith(".parquet")]
        urls = pq.read_table(f"{out}/extracted/{name}/{data}", columns=["url"])["url"].to_pylist()
        assert {expected[u] for u in urls} == {p}, name
        assert urls == sorted(urls), name
        seen += len(urls)
    assert seen == N_PAGES


def _reference_hot(urls, n_parts):
    """Pure-Python budget rule: hosts over total/n_parts rows get
    ceil(count/budget) salts (capped at n_parts); NULL hosts never do."""
    counts = {}
    for u in urls:
        host = urlsplit(u).hostname if "://" in u else None
        counts[host] = counts.get(host, 0) + 1
    budget = max(len(urls) / n_parts, 1.0)
    return {
        h: min(n_parts, math.ceil(c / budget))
        for h, c in counts.items()
        if h is not None and c > budget
    }


def test_adaptive_host_stats_one_action_no_cache(spark):
    """The host stats are one action over the input with nothing cached,
    and the hot map matches the budget rule even with far more hosts than
    n_parts and a NULL-host group over the budget."""
    rng = random.Random(5)
    urls = [f"not a url {i}" for i in range(300)]
    for i in range(2000):
        h = min(int(rng.paretovariate(0.8)), 500)
        urls.append(f"https://h{h}.example.com/p{i}")
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    sc = spark.sparkContext
    cached = len(sc._jsc.getPersistentRDDs())
    for n_parts in (2, 8, 32):
        (_, hot), n_jobs = _counted(
            spark, f"hs{n_parts}", lambda: adaptive_salted_part_id(df, "url", n_parts)
        )
        assert hot == _reference_hot(urls, n_parts)
        # per-host shuffle, total shuffle, result: one action
        assert n_jobs <= 3
        assert len(sc._jsc.getPersistentRDDs()) == cached


@pytest.mark.parametrize("entry", ["extract", "pipeline"])
def test_unknown_salting_rejected_before_any_read(entry, tmp_path):
    # a misspelt mode used to salt uniformly without a word (and break the
    # resume of an adaptive run); it must fail before Spark is touched, so
    # neither a session nor a pages DataFrame is needed to see the error
    from greenocr_spark.plans.pipeline import run_pipeline_job

    run = run_extract_job if entry == "extract" else run_pipeline_job
    out = tmp_path / "out"
    with pytest.raises(ValueError, match="salting"):
        run(None, None, str(out), salting="adaptve")
    assert not out.exists()
