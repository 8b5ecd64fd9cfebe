"""run_extract_job's plan budget and lineage: Spark jobs per run, manifest
rows per run (counted in the extraction tasks, exact under a retried
task), the host-stat action behind adaptive salting, and a resume over a
corrupt manifest."""

from __future__ import annotations

import json
import math
import os
import random
import re
import shutil
import subprocess
import sys
from pathlib import Path
from urllib.parse import urlsplit

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import LongType

import greenocr_spark.functions.sqlfns as sqlfns
import greenocr_spark.plans.job as job_module
from greenocr_spark.fixtures import ROW_GROUP_BYTES, pages_arrow_table, write_pages_parquet
from greenocr_spark.functions.sqlfns import (
    adaptive_salted_part_id,
    host_expr,
    hot_salted_part_id,
    salted_part_id,
)
from greenocr_spark.operators.extract import PartTally, extract_pages
from greenocr_spark.plans.job import run_extract_job
from greenocr_spark.sources.pages import limit_pages, write_extracted
from tests.conftest import called_methods, gateway_commands

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


def _table_aggregates(table):
    """The manifest rows a job's table implies, as _manifest_rows lists them."""
    return sorted(
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
    """The resume path reads the done set once and runs no emptiness pass;
    adaptive host stats are one action of 2 jobs (one rollup), the layout
    (hot map included) is a params record, the manifest rows come from
    the extraction tasks and are written from the driver, and the done set
    is read back on the driver: none of the four costs a Spark job.
    Ceilings are this plan's counts on local[4]; earlier plans ran
    13 / 8 / 18, then 8 / 6 / 9, then 7 / 3 / 6, then 4 / 3 / 3 (adaptive
    fresh / no-op / 1/8 resume), and 7 / 6, then 5 / 2, then 5 / 1, then
    2 / 1 (uniform fresh / no-op) jobs here."""
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
        "fresh_adaptive": 4,
        "noop_adaptive": 2,
        "resume_adaptive": 2,
        "fresh_uniform": 2,
        "noop_uniform": 0,
    }
    over = {k: (n, ceilings[k]) for k, n in counts.items() if n > ceilings[k]}
    assert not over, f"jobs over their ceiling: {over}"
    assert _table(resumed) == _table(fresh)


def test_fresh_job_driver_round_trips(spark, pages_path, tmp_path, monkeypatch):
    """A fresh adaptive job's driver path costs a fixed number of JVM round
    trips, whatever the size of its hot map: the host stats return the map
    alone, the job builds the part_id expression once, from one literal,
    and the params record and the manifest file each take one create and
    one rename. Counted after a warm-up job, so first-use class lookups do
    not count. The ceiling is this plan's count; the plan before it sent
    634 here (one hot host), building the expression twice at ~16 round
    trips per hot host, and put each file with a FileContext rename."""
    build, builds = job_module.hot_salted_part_id, []

    def counted_build(*args):
        builds.append(args)
        return build(*args)

    monkeypatch.setattr(job_module, "hot_salted_part_id", counted_build)
    monkeypatch.setattr(sqlfns, "hot_salted_part_id", counted_build)
    pages = spark.read.parquet(pages_path)
    run_extract_job(spark, pages, str(tmp_path / "warm"), n_parts=N_PARTS, salting="adaptive")
    builds.clear()
    out = str(tmp_path / "a")
    with gateway_commands(spark) as sent:
        run_extract_job(spark, pages, out, n_parts=N_PARTS, salting="adaptive")
    assert _record(out)["hot"] and len(builds) == 1
    methods = called_methods(sent)
    assert (methods.count("create"), methods.count("rename")) == (2, 2)
    assert len(sent) <= 410, len(sent)


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


def test_part_tally_counts_each_split_once():
    """The manifest accumulator's merge: a split whose sums were merged
    already (a retried or speculative attempt of the same task) adds
    nothing, other splits add up per part_id."""
    param = PartTally()
    value = param.zero(None)
    split3 = ({3}, {0: [2, 5, 1, 100, 40], 5: [1, 1, 0, 10, 4]})
    split4 = ({4}, {0: [1, 1, 1, 10, 2]})
    for update in (split3, split4, split3):
        value = param.addInPlace(value, update)
    assert value == ({3, 4}, {0: [3, 6, 2, 110, 42], 5: [1, 1, 0, 10, 4]})
    assert split3[1][0] == [2, 5, 1, 100, 40]  # an update is not aliased


def test_stage_rows_are_the_spec_over_many_arrow_batches(spark):
    """Every payload shape through the Arrow batch pass, several Arrow
    batches per task: each row equals the pure-Python spec, the schema is
    extract_schema's, and the tally holds each part_id's sums once."""
    import pyarrow as pa

    from greenocr_spark.extractor.core import extract_document
    from greenocr_spark.extractor.links import extract_link_faces
    from greenocr_spark.extractor.pdf import build_pdf
    from greenocr_spark.fixtures import make_pages
    from greenocr_spark.operators.extract import extract_schema
    from tests.test_links import _fused_batch_fn

    shapes = [
        None,
        b"",
        build_pdf([[(72, 700, "a pdf page"), (72, 680, "of two lines")]]),
        "<p>\u00fcber eine seite in utf-16, lang genug f\u00fcr inhalt</p>".encode("utf-16"),
        b"<nav><a href='/h'>home</a> <a href='/a'>about</a></nav><footer>(c)</footer>",
        b"<title>t</title><p>" + b"a normal paragraph of words " * 4 + b"<a href='/x'>x</a></p>",
    ]
    raws = shapes * 3 + [p["html"] for p in make_pages(40, seed=7)]
    rows = [(f"https://h{i % 3}.ex/p{i}", raw, i % 4) for i, raw in enumerate(raws)]
    df = spark.createDataFrame(rows, "url string, html binary, part_id long").repartition(2)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        per_task = df.mapInArrow(
            lambda it: iter([pa.RecordBatch.from_pydict({"n": [sum(1 for _ in it)]})]), "n long"
        ).collect()
        tally = spark.sparkContext.accumulator((set(), {}), PartTally())
        out = extract_pages(df, passthrough=("part_id",), with_links=True, with_anchors=True, tally=tally)
        got = out.collect()
    finally:
        spark.conf.set(key, old)
    assert len(per_task) == 2 and min(r["n"] for r in per_task) > 1
    assert out.schema == extract_schema(["part_id"], df.schema, with_links=True, with_anchors=True)
    by_url = {url: (raw, part_id) for url, raw, part_id in rows}
    assert sorted(r["url"] for r in got) == sorted(by_url)
    kinds, sums = set(), {}
    for r in got:
        raw, part_id = by_url[r["url"]]
        want = extract_document(raw)
        links, anchors = extract_link_faces(raw, r["url"])
        assert {
            "text": r["text"],
            "spans": [tuple(s) for s in r["spans"]],
            "n_blocks": r["n_blocks"],
            "n_content": r["n_content"],
            "n_boilerplate": r["n_boilerplate"],
            "kind": r["kind"],
        } == want, r["url"]
        assert (r["outlinks"], r["n_links"]) == (links, len(links))
        assert ([tuple(a) for a in r["anchors"]], r["n_anchors"]) == (anchors, len(anchors))
        assert r["part_id"] == part_id
        assert (r["bytes_in"], r["bytes_out"]) == (len(raw or b""), len(want["text"].encode()))
        kinds.add(r["kind"])
        row = sums.setdefault(part_id, [0, 0, 0, 0, 0])
        for k, v in enumerate((1, r["n_content"], r["n_boilerplate"], r["bytes_in"], r["bytes_out"])):
            row[k] += v
    assert kinds == {"empty", "pdf", "html"}
    assert tally.value[1] == sums
    # a zero-row batch yields nothing
    empty = pa.RecordBatch.from_pydict({"url": pa.array([], pa.string()), "html": pa.array([], pa.binary())})
    assert list(_fused_batch_fn(with_links=True)(iter([empty]))) == []


def test_job_leaves_no_accumulator_behind(spark, pages_path, tmp_path):
    """pyspark keeps a Python accumulator in its driver registry for the
    SparkContext's life; a fresh job and a resume each drop their manifest
    tally once read, so a long-lived driver does not grow per job."""
    from pyspark.accumulators import _accumulatorRegistry

    pages = spark.read.parquet(pages_path)
    out, resumed_out = str(tmp_path / "o"), str(tmp_path / "o8")
    before = len(_accumulatorRegistry)
    fresh = run_extract_job(spark, pages, out, n_parts=N_PARTS)
    assert len(_accumulatorRegistry) == before
    _lose_partitions(spark, out, resumed_out)
    resumed = run_extract_job(spark, pages, resumed_out, n_parts=N_PARTS)
    assert len(_accumulatorRegistry) == before
    assert _table(resumed) == _table(fresh)


RETRY_CHILD = r"""
import itertools, json, os, sys
import pyarrow.parquet as pq
from pyspark import TaskContext
import greenocr_spark.operators.extract as extract_module
from greenocr_spark.fixtures import pages_arrow_table
from greenocr_spark.plans.job import run_extract_job
from greenocr_spark.session import build_session
from tests.test_extract_job import _lose_partitions, _manifest_rows, _table, _table_aggregates

tmp = sys.argv[1]
spark = build_session(master="local[4,2]", shuffle_partitions=4,
                      extra_conf={"spark.driver.memory": "1g"})
sc = spark.sparkContext
# more rows than one Arrow batch (1024), all in one row group: one task
# extracts them all
pq.write_table(pages_arrow_table(1200), f"{tmp}/pages.parquet")
pages = spark.read.parquet(f"{tmp}/pages.parquet")

class FailFirstAttempt(extract_module.PageBatch):
    calls = itertools.count()

    def add(self, raw):
        # attempt 0 of a task dies on the first page after its first
        # batch, once that batch's rows are extracted, written out and
        # tallied
        if next(self.calls) == 1024 and TaskContext.get().attemptNumber() == 0:
            raise RuntimeError("injected task failure")
        return super().add(raw)

# shipped to the workers with the batch function that calls it
extract_module.PageBatch = FailFirstAttempt

def failed_tasks(group):
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    return sum(st.getStageInfo(s).numFailedTasks
               for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds)

out = f"{tmp}/o"
sc.setJobGroup("fresh", "fresh")
fresh = run_extract_job(spark, pages, out, n_parts=8)
result = {"failed": failed_tasks("fresh"),
          "manifest_is_table": _manifest_rows(spark, out) == _table_aggregates(fresh),
          "n_docs": sum(r[2] for r in _manifest_rows(spark, out))}
_lose_partitions(spark, out, f"{tmp}/o8")
resumed = run_extract_job(spark, pages, f"{tmp}/o8", n_parts=8)
result["resumed_is_fresh"] = _table(resumed) == _table(fresh)
result["resumed_manifest"] = _manifest_rows(spark, f"{tmp}/o8") == _manifest_rows(spark, out)
print(json.dumps(result))
"""


def test_manifest_exact_when_an_extraction_task_is_retried(tmp_path):
    """The extraction task's first attempt dies after tallying its first
    batch; Spark drops that attempt's sums and the retry's are merged once,
    so the manifest still equals the table's per-part_id aggregates, and a
    resume after losing 1/8 of the partitions matches the fresh table. One
    session in a child process: the failure is injected into the batch
    function the workers unpickle, and local[4,2] allows one retry."""
    root = Path(__file__).resolve().parent.parent
    res = subprocess.run(
        [sys.executable, "-c", RETRY_CHILD, str(tmp_path)],
        capture_output=True, text=True, cwd=str(root), timeout=600,
        env=dict(os.environ, PYTHONPATH=str(root)),
    )
    assert res.returncode == 0, res.stderr[-4000:]
    got = json.loads(res.stdout.strip().splitlines()[-1])
    assert got == {
        "failed": 1,
        "manifest_is_table": True,
        "n_docs": 1200,
        "resumed_is_fresh": True,
        "resumed_manifest": True,
    }


def test_fresh_job_never_scans_its_output(spark, pages_path, tmp_path):
    """A fresh job's manifest comes from its extraction tasks, so no stage
    it runs reads the table it wrote. The pages are ORC, so every parquet
    scan a stage runs would be a read of the job's own output."""
    orc = str(tmp_path / "pages.orc")
    spark.read.parquet(pages_path).write.orc(orc)
    pages = spark.read.orc(orc)
    _counted(
        spark,
        "own_output",
        lambda: run_extract_job(spark, pages, str(tmp_path / "o"), n_parts=N_PARTS,
                                salting="adaptive"),
    )
    sc = spark.sparkContext
    st = sc.statusTracker()
    scans = [
        name
        for job in st.getJobIdsForGroup("own_output")
        for sid in st.getJobInfo(job).stageIds
        if st.getStageInfo(sid) is not None
        for name in _stage_graph(sc, sid)
        if name.startswith("Scan ")
    ]
    assert scans and {s.strip() for s in scans} == {"Scan orc"}, scans


def _listing(root):
    """{path under root: (size, mtime_ns)} of every file, hidden ones too."""
    files = {}
    for d, _, names in os.walk(root):
        for name in names:
            st = os.stat(os.path.join(d, name))
            files[os.path.relpath(os.path.join(d, name), root)] = (st.st_size, st.st_mtime_ns)
    return files


def _record(out):
    with open(f"{out}/_params.json") as f:
        return json.load(f)


@pytest.mark.parametrize(
    "drift",
    [
        {"n_parts": 2 * N_PARTS},
        {"n_parts": 2 * N_PARTS, "resume": False},
        {"salting": "adaptive"},
        {"n_salts": 2},
        {"with_links": True},
    ],
    ids=lambda d: "-".join(f"{k}={v}" for k, v in d.items()),
)
def test_resume_under_other_params_raises(spark, pages_path, tmp_path, drift):
    """The layout of a committed out_dir is its params record: a run that
    keeps its output (extracted/ exists, whatever `resume` is) under any
    other n_parts, salting, n_salts or face flag raises params drift and
    writes nothing. Unchecked, resuming a 16-part out_dir with 32 parts
    extracts every url again under new part_ids, next to the old ones."""
    pages = spark.read.parquet(pages_path)
    out = str(tmp_path / "o")
    params = dict(n_parts=N_PARTS, n_salts=4, salting="uniform")
    run_extract_job(spark, pages, out, **params)
    files = _listing(out)
    (key,) = [k for k in drift if k != "resume"]
    with pytest.raises(ValueError, match=f"params drift .*{key}: committed"):
        run_extract_job(spark, pages, out, **{**params, **drift})
    assert _listing(out) == files
    urls = [r["url"] for r in run_extract_job(spark, pages, out, **params).collect()]
    assert len(urls) == len(set(urls)) == N_PAGES
    assert _record(out) == {**params, "with_links": False, "with_anchors": False}


def test_resume_over_corrupt_manifest_raises(spark, pages_path, tmp_path):
    """An unreadable manifest is not a first run: a resume that read it as
    "nothing done" would re-extract and append every partition again. The
    done-set read raises, naming the file, before anything is written."""
    pages = spark.read.parquet(pages_path)
    out = str(tmp_path / "out")
    run_extract_job(spark, pages, out, n_parts=N_PARTS)
    (stored,) = [f for f in os.listdir(f"{out}/manifest") if f.endswith(".parquet")]
    with open(f"{out}/manifest/{stored}", "wb") as f:
        f.write(b"not a parquet file" * 8)
    extracted, manifest = _listing(f"{out}/extracted"), _listing(f"{out}/manifest")
    with pytest.raises(Exception, match=re.escape(f"{out}/manifest/{stored}")):
        run_extract_job(spark, pages, out, n_parts=N_PARTS)
    assert _listing(f"{out}/extracted") == extracted
    assert _listing(f"{out}/manifest") == manifest


def test_resume_under_a_static_session_keeps_untouched_partitions(spark, pages_path, tmp_path):
    """The job's write sets dynamic partition overwrite on itself, not on
    the caller's session: under a session whose mode is static, a 1/8
    resume still rewrites only the lost part_id dirs and leaves the
    session static."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        pages = spark.read.parquet(pages_path)
        out, dst = str(tmp_path / "o"), str(tmp_path / "o8")
        fresh = _table(run_extract_job(spark, pages, out, n_parts=N_PARTS))
        lost = _lose_partitions(spark, out, dst)
        kept = {p: _listing(f"{dst}/extracted/part_id={p}")
                for p in range(N_PARTS) if p not in lost}
        assert all(kept.values())
        resumed = _table(run_extract_job(spark, pages, dst, n_parts=N_PARTS))
        assert {p: _listing(f"{dst}/extracted/part_id={p}") for p in kept} == kept
        assert resumed == fresh
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, before)


def _stage_graph(sc, stage_id):
    """Names of the operator scopes a stage ran (its DAG clusters) and of
    the RDDs inside them."""
    graph = sc._jsc.sc().statusStore().operationGraphForStage(stage_id)
    names, todo = [], [graph.rootCluster()]
    while todo:
        cluster = todo.pop()
        names.append(cluster.name())
        children = cluster.childClusters().iterator()
        while children.hasNext():
            todo.append(children.next())
        nodes = cluster.childNodes().iterator()
        while nodes.hasNext():
            names.append(nodes.next().name())
    return names


def _stage_tasks(spark, group, *scopes):
    """Task counts of the stages a job group ran all of `scopes` in."""
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
        and set(scopes) <= set(_stage_graph(sc, sid))
    ]


def test_extraction_runs_once_per_input_split(spark, tmp_path, monkeypatch):
    """Every Python task pays a fixed cost (see greenocr_spark/worker.py),
    so the extraction stage must be as wide as the input, not as n_parts: the
    plan extracts below the part_id shuffle, and the stage that runs
    MapInArrow has one task per input split."""
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
    width = min(16, spark.sparkContext.defaultParallelism)
    exchange = re.search(rf"Exchange hashpartitioning\(part_id#\d+L?, {width}\)", plan)
    assert exchange and plan.index("MapInArrow") > exchange.start(), plan
    assert _stage_tasks(spark, "splits", "MapInArrow") == [2]


def _part_files(table_dir):
    """{part_id= dir: the rows of its one file, in file order}."""
    files = {}
    for name in sorted(os.listdir(table_dir)):
        if name.startswith("part_id="):
            (data,) = [f for f in os.listdir(f"{table_dir}/{name}") if f.endswith(".parquet")]
            files[name] = pq.read_table(f"{table_dir}/{name}/{data}").to_pylist()
    return files


def test_write_runs_one_task_per_core(spark, pages_path, tmp_path):
    """The write shuffle is min(n_parts, cores) wide, not n_parts: hash
    partitioning still sends each part_id to one task, so every part_id=
    dir holds the one file an n_parts-wide write of the same extracted
    rows would, row for row."""
    pages = spark.read.parquet(pages_path)
    out = str(tmp_path / "o")
    _counted(spark, "width", lambda: run_extract_job(spark, pages, out, n_parts=N_PARTS))
    cores = spark.sparkContext.defaultParallelism
    assert 1 < cores < N_PARTS
    # the write stage reads the shuffle
    assert _stage_tasks(spark, "width", "WriteFiles", "ShuffledRowRDD") == [cores]

    keyed = pages.withColumn("part_id", salted_part_id(F.col("url"), N_PARTS))
    ref = str(tmp_path / "ref")
    write_extracted(
        extract_pages(keyed, passthrough=("part_id",))
        .repartition(N_PARTS, "part_id")
        .sortWithinPartitions("part_id", "url"),
        ref,
    )
    assert _part_files(ref) == _part_files(f"{out}/extracted")


def test_adaptive_job_without_hot_hosts_runs_one_python_stage(spark, pages_path, tmp_path):
    """An adaptive job over uniform hosts records an empty hot map. The
    record is a driver-side file, so the only Python stage the job runs is
    the extraction (no PythonRDD stage: an empty pandas frame would plan a
    Python scan)."""
    pages = spark.read.parquet(pages_path).withColumn(
        "url",
        F.concat(
            F.lit("https://h"),
            F.pmod(F.xxhash64("url"), F.lit(64)).cast("string"),
            F.lit(".example.com/"),
            F.sha1("url"),
        ),
    )
    out = str(tmp_path / "o")
    _counted(
        spark,
        "uniform_hosts",
        lambda: run_extract_job(spark, pages, out, n_parts=N_PARTS, salting="adaptive"),
    )
    assert _record(out)["hot"] == {}
    assert len(_stage_tasks(spark, "uniform_hosts", "MapInArrow")) == 1
    assert _stage_tasks(spark, "uniform_hosts", "PythonRDD") == []


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
    assert _stage_tasks(spark, "limited", "MapInArrow") == [cores] and cores > 1


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
    hot = _record(out)["hot"]
    salted = pages.select("url", hot_salted_part_id("url", hot, N_PARTS).alias("p"))
    expected = {r["url"]: r["p"] for r in salted.collect()}

    seen = 0
    for name, rows in _part_files(f"{out}/extracted").items():
        p = int(name.split("=", 1)[1])
        urls = [r["url"] for r in rows]
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
    n_parts and a NULL-host group over the budget, or bigger than every
    real host."""
    rng = random.Random(5)
    hosts = []
    for i in range(2000):
        h = min(int(rng.paretovariate(0.8)), 500)
        hosts.append(f"https://h{h}.example.com/p{i}")
    sc = spark.sparkContext
    cached = len(sc._jsc.getPersistentRDDs())
    for n_null in (300, 3000):
        urls = [f"not a url {i}" for i in range(n_null)] + hosts
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        for n_parts in (2, 8, 32):
            (_, hot), n_jobs = _counted(
                spark,
                f"hs{n_null}_{n_parts}",
                lambda: adaptive_salted_part_id(df, "url", n_parts),
            )
            assert hot == _reference_hot(urls, n_parts)
            # one rollup: the per-host shuffle, then the result
            assert n_jobs <= 2
            assert len(sc._jsc.getPersistentRDDs()) == cached
    # an empty input has no rollup groups, not even the total
    assert adaptive_salted_part_id(df.limit(0), "url", 8)[1] == {}


def _create_map_frozen_form(url_col, hot, n_parts):
    # the create_map form of hot_salted_part_id (two literal maps, one
    # literal per host and per value), the reference its one-literal
    # lookup keeps
    host = host_expr(url_col)
    if hot:
        items = sorted(hot.items())
        offsets, acc = {}, 0
        for h, s in items:
            offsets[h] = acc
            acc += int(s)
        salts_map = F.create_map(*[x for h, s in items for x in (F.lit(h), F.lit(int(s)))])
        off_map = F.create_map(*[x for h, _ in items for x in (F.lit(h), F.lit(offsets[h]))])
        salts = salts_map[host]
        return F.when(
            salts.isNotNull(),
            F.pmod(off_map[host] + F.pmod(F.xxhash64(F.col(url_col)), salts), F.lit(n_parts)),
        ).otherwise(F.pmod(F.xxhash64(host), F.lit(n_parts)))
    return F.pmod(F.xxhash64(host), F.lit(n_parts))


# NULL, unparseable, IPv6 and mixed-case urls
_EDGE_URLS = [
    None, "not a url", "'", "\\", "http://[x/", "http://[::1]/x",
    "https://[2001:db8::1]:8080/x", "HTTPS://Big.Example.COM/x", "http://a'b.example/x",
    'http://a"b.example/x', "http://a\\b.example/x", "http://b\u00fccher.example/x",
]
# keys try_parse_url never returns (quotes, backslashes, non-ASCII) among
# the hosts it does: a literal they broke would turn every hot host cold,
# and their sort order moves the real hosts' offsets
_ODD_HOSTS = {
    "a'b.example": 2, 'a"b.example': 3, "a\\b.example": 2, "b\u00fccher.example": 4,
    "\u65e5\u672c.example": 1, "[::1]": 3, "Big.Example.COM": 2,
}


def test_hot_salted_part_id_keeps_the_create_map_rule(spark, pages_path):
    """The one-literal lookup keys every url as the create_map form did,
    with the same type, over the fixture urls, edge urls and a 2,000-host
    map; the optimizer folds the JSON literal into a map literal, so no
    row parses JSON; and building the expression costs the same JVM round
    trips for 1 and for 2,000 hot hosts."""
    fixture = [r["url"] for r in spark.read.parquet(pages_path).select("url").collect()]
    big = {f"h{i}.example.com": 1 + i % 7 for i in range(2000)}
    big_urls = [f"https://h{i}.example.com/p{j}" for i in range(2000) for j in range(3)]
    fixture_hot = _reference_hot(fixture, N_PARTS)
    assert fixture_hot
    for urls, hot, n_parts in [
        (fixture + _EDGE_URLS, {**fixture_hot, **_ODD_HOSTS}, N_PARTS),
        (fixture + _EDGE_URLS, {}, N_PARTS),
        (big_urls + _EDGE_URLS, big, 64),
    ]:
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        part_id = hot_salted_part_id("url", hot, n_parts)
        keyed = df.select(
            part_id.alias("p"),
            _create_map_frozen_form("url", hot, n_parts).alias("frozen"),
            F.pmod(F.xxhash64(host_expr("url")), F.lit(n_parts)).alias("cold"),
        )
        assert keyed.schema["p"].dataType == keyed.schema["frozen"].dataType == LongType()
        rows = keyed.collect()
        assert [r["p"] for r in rows] == [r["frozen"] for r in rows]
        # the hot branch ran wherever there are hot hosts
        assert any(r["p"] != r["cold"] for r in rows) == bool(hot)
        plan = df.select(part_id)._jdf.queryExecution().optimizedPlan().toString()
        assert "from_json" not in plan and ("map(keys:" in plan) == bool(hot)

    hot_salted_part_id("url", {"warm.example.com": 2}, 64)
    counts = []
    for hot in ({"h0.example.com": 1}, big):
        with gateway_commands(spark) as sent:
            hot_salted_part_id("url", hot, 64)
        counts.append(len(sent))
    assert counts[0] == counts[1], counts


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
