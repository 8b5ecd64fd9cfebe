"""K-means-to-convergence job (plans/cluster.py): centroids match a pure
pure-Python Lloyd reference bit-for-bit, resume-at-iteration lands on the
identical final state, params drift raises, and the per-iteration plan stays
ONE K-group aggregate (VERDICT r04 task 4)."""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal

import pytest

from pyspark.sql import functions as F

from greenocr_spark.plans.cluster import (
    SCALE,
    _iround_div,
    assign_step,
    quantize,
    run_kmeans_job,
)

SF_DIR = os.environ.get("GREENOCR_TEST_SF_DIR", "/root/testdata/sf0.001")
K = 5


def _spark_round_long(x: float) -> int:
    """Spark F.round(double) semantics: HALF_UP on the shortest decimal
    repr of the double (BigDecimal.valueOf)."""
    return int(Decimal(repr(x)).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def _pure_python_lloyd(vecs: dict[int, list[float]], k: int, max_iters: int):
    """Independent Lloyd reference under the job's declared rules:
    quantize to round(x*SCALE) longs, init = K smallest vec_ids, ties by
    (dist, cid), M-step integer half-up mean, empty cluster keeps centroid.
    Returns (centroids {cid: [long]}, iters, converged, final_inertia)."""
    q = {
        vid: [_spark_round_long(float(x) * SCALE) for x in v]
        for vid, v in vecs.items()
    }
    cents = {i: list(q[vid]) for i, vid in enumerate(sorted(q)[:k])}
    it, converged, inertia = 0, False, None
    while not converged and it < max_iters:
        it += 1
        sums = {c: [0] * len(next(iter(q.values()))) for c in cents}
        counts = dict.fromkeys(cents, 0)
        inertia = 0
        for vid in q:
            dist, cid = min(
                (sum((a - b) * (a - b) for a, b in zip(q[vid], qc)), c)
                for c, qc in cents.items()
            )
            inertia += dist
            counts[cid] += 1
            for i, a in enumerate(q[vid]):
                sums[cid][i] += a
        moved = 0
        for c in cents:
            if counts[c]:
                new = [_iround_div(s, counts[c]) for s in sums[c]]
                if new != cents[c]:
                    moved += 1
                cents[c] = new
        converged = moved == 0
    return cents, it, converged, inertia


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))


@pytest.fixture(scope="module")
def pure(embeddings):
    vecs = {
        int(r["vec_id"]): list(r["embedding"])
        for r in embeddings.select("vec_id", "embedding").collect()
    }
    return _pure_python_lloyd(vecs, K, max_iters=50)


def test_kmeans_matches_pure_python(spark, embeddings, pure, tmp_path):
    ref_cents, ref_iters, ref_converged, ref_inertia = pure
    stats = run_kmeans_job(
        spark, embeddings, str(tmp_path / "km"), k=K, max_iters=50
    )
    assert stats["converged"] is ref_converged
    assert stats["iters"] == ref_iters
    assert stats["inertia"] == ref_inertia
    got = {
        int(r["cid"]): list(r["qc"])
        for r in spark.read.parquet(str(tmp_path / "km" / "centroids")).collect()
    }
    assert got == ref_cents  # exact longs — bit-for-bit, any parallelism


def test_kmeans_resume_at_iteration(spark, embeddings, pure, tmp_path, as_uri=False):
    out = (tmp_path / "km_resume").as_uri() if as_uri else str(tmp_path / "km_resume")
    s1 = run_kmeans_job(spark, embeddings, out, k=K, max_iters=3)
    assert s1["iters"] == 3 and s1["resumed"] is False
    s2 = run_kmeans_job(spark, embeddings, out, k=K, max_iters=50)
    assert s2["resumed"] is True and s2["converged"]
    # iterations 1-3 were NOT recomputed: manifest has exactly one row per
    # iteration and the iter sequence is contiguous from 1
    manifest = spark.read.parquet(os.path.join(out, "manifest"))
    iters = sorted(r["iter"] for r in manifest.collect())
    assert iters == list(range(1, s2["iters"] + 1))
    # resumed run lands on the identical final state as the reference
    ref_cents = pure[0]
    got = {
        int(r["cid"]): list(r["qc"])
        for r in spark.read.parquet(os.path.join(out, "centroids")).collect()
    }
    assert got == ref_cents
    # resuming a CONVERGED run is a full no-op: no new manifest rows
    s3 = run_kmeans_job(spark, embeddings, out, k=K, max_iters=50)
    assert s3["resumed"] is True and s3["iters"] == s2["iters"]
    assert spark.read.parquet(os.path.join(out, "manifest")).count() == len(iters)


def test_kmeans_resume_at_iteration_file_uri(spark, embeddings, pure, tmp_path):
    """A file: out_dir resumes like a plain path: the committed iterations
    are listed through the path's own file system."""
    test_kmeans_resume_at_iteration(spark, embeddings, pure, tmp_path, as_uri=True)


def test_iteration_rows_appended_without_a_spark_job(spark, embeddings, tmp_path, monkeypatch):
    """Each iteration's manifest row is one parquet file written from the
    driver: the append runs no Spark job (counted by job group)."""
    import greenocr_spark.plans.cluster as cluster_module

    sc, append, iters = spark.sparkContext, cluster_module.append_parquet_file, []

    def append_in_group(spark, path, rows, ddl):
        iters.append(rows[0][0])
        sc.setJobGroup("iter_append", "iter_append")
        try:
            append(spark, path, rows, ddl)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(cluster_module, "append_parquet_file", append_in_group)
    out = str(tmp_path / "km")
    run_kmeans_job(spark, embeddings, out, k=K, max_iters=2)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert iters == [1, 2]
    assert list(sc.statusTracker().getJobIdsForGroup("iter_append")) == []
    manifest = spark.read.parquet(os.path.join(out, "manifest"))
    assert sorted(r["iter"] for r in manifest.collect()) == iters


def test_resume_reads_its_manifest_without_a_spark_job(spark, embeddings, tmp_path, monkeypatch):
    """A resume looks up its last iteration's manifest row on the driver:
    the read runs no Spark job (counted by job group)."""
    import greenocr_spark.plans.cluster as cluster_module

    sc, read, reads = spark.sparkContext, cluster_module.read_parquet_rows, []

    def read_in_group(spark, path, ddl):
        sc.setJobGroup("manifest_read", "manifest_read")
        try:
            reads.append(read(spark, path, ddl))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return reads[-1]

    out = str(tmp_path / "km")
    run_kmeans_job(spark, embeddings, out, k=K, max_iters=2)
    monkeypatch.setattr(cluster_module, "read_parquet_rows", read_in_group)
    s = run_kmeans_job(spark, embeddings, out, k=K, max_iters=2)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert s["resumed"] and s["iters"] == 2
    assert [sorted(r["iter"] for r in rows) for rows in reads] == [[1, 2]]
    assert list(sc.statusTracker().getJobIdsForGroup("manifest_read")) == []


def test_kmeans_params_drift_raises(spark, embeddings, tmp_path):
    out = str(tmp_path / "km_drift")
    run_kmeans_job(spark, embeddings, out, k=K, max_iters=1)
    with pytest.raises(ValueError, match="params drift"):
        run_kmeans_job(spark, embeddings, out, k=K + 1, max_iters=1)


def test_forced_rerun_clears_earlier_iterations(spark, embeddings, tmp_path):
    """resume=False keeps nothing of an earlier run: a longer k=8 run's
    iterations and manifest rows past the forced k=2 run's last iteration
    are gone, so the next resume starts from the k=2 run's own state."""
    out = str(tmp_path / "km_forced")
    long_run = run_kmeans_job(spark, embeddings, out, k=8, max_iters=4)
    forced = run_kmeans_job(spark, embeddings, out, k=2, max_iters=2, resume=False,
                            run_id="forced")
    assert long_run["iters"] == 4 and forced["iters"] == 2 and not forced["converged"]
    assert sorted(os.listdir(os.path.join(out, "iters"))) == ["0001", "0002"]
    manifest = spark.read.parquet(os.path.join(out, "manifest")).collect()
    assert sorted((r["iter"], r["run_id"]) for r in manifest) == [(1, "forced"), (2, "forced")]

    resumed = run_kmeans_job(spark, embeddings, out, k=2, max_iters=3)
    assert resumed["resumed"] and resumed["iters"] == 3
    cids = [r["cid"] for r in spark.read.parquet(os.path.join(out, "centroids")).collect()]
    assert sorted(cids) == [0, 1]


def test_kmeans_iteration_plan_single_aggregate(spark, embeddings):
    """The per-iteration plan: assignment is a narrow broadcast projection
    (no exchange), and the E+M partials groupBy is the ONLY shuffle."""
    qe = quantize(embeddings)
    cents = [(i, [0] * 64) for i in range(K)]
    assigned = assign_step(qe, cents, spark)
    plan_assign = assigned._jdf.queryExecution().executedPlan().toString()
    # corpus side never shuffles for assignment (broadcast exchange only)
    assert "Exchange hashpartitioning" not in plan_assign
    partials = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n"), F.sum("dist").alias("inertia")
    )
    plan = partials._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastExchange" in plan  # K centroids ship as one broadcast row
