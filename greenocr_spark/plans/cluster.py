"""K-means (Lloyd) to convergence as a resumable job — IVF index training
(VERDICT r04 task 4).

The battery's km1_kmeans_estep value-checks ONE E+M iteration; production
IVF training iterates to convergence. This job runs the same scaled-int
kernel per iteration and commits centroids + an (iter, inertia, moved)
manifest row after EVERY iteration (the dd8/pr1 iterative pattern), so a
killed run resumes at the last committed iteration instead of restarting.
The params (k, scale, d) are recorded in out_dir/_params.json
(sources/pages.check_params); resuming committed iterations under other
params fails loudly on params drift.

Determinism (the north rule applied to an iterative algorithm):
- components quantize to round(x*1000) longs once up front; ALL distance
  arithmetic is exact integer (no float accumulation-order hazards, so
  local[4] ≡ local[32] ≡ a 1000-executor cluster, bit for bit);
- assignment ties break by (dist, cid) via array_min over structs;
- the M-step emits exact integer SUMS per component (never means); the
  driver derives the next centroids with integer half-up rounding
  ((2*s + n) // (2*n) sign-adjusted), so centroids stay exact longs.

Scale shape per iteration (10^12 vectors, K clusters, d dims):
- the K×d centroid table collapses to ONE broadcast row (array of
  structs): assignment is a narrow array_min projection — the corpus is
  never multiplied by K and never shuffled on vec_id;
- the only exchange is one K-group aggregate with map-side partials
  (d per-component sums + count + inertia per group — d column
  aggregates, NOT an explode to n*d rows; at d in the thousands switch
  to the exploded (cid, dim) layout, documented trade-off);
- per-iteration driver state is K rows of K×d longs — driver-bounded
  (the plans/calibrate.py collect() class), independent of corpus size.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from greenocr_spark.sources.pages import (
    append_parquet_file, check_params, delete_path, glob_paths, read_parquet_rows,
    write_params,
)

SCALE = 1000  # quantization: component -> round(x*1000) as long
MANIFEST_DDL = "iter int, inertia long, n_moved int, run_id string"


def _iround_div(s: int, n: int) -> int:
    """Exact integer round-half-up (away from zero) of s/n for n > 0."""
    if s >= 0:
        return (2 * s + n) // (2 * n)
    return -((2 * (-s) + n) // (2 * n))


def quantize(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(vec_id, qe: array<long>) — the shared scaled-int representation."""
    qarr = F.transform(
        vec_col, lambda x: F.round(x.cast("double") * SCALE).cast("long")
    )
    return embeddings.select("vec_id", qarr.alias("qe"))


def init_centroids(qe: DataFrame, k: int) -> list[tuple[int, list[int]]]:
    """Deterministic init: the K smallest vec_ids seed cluster ids 0..K-1
    (TakeOrdered — no scan beyond the top-k)."""
    rows = qe.orderBy("vec_id").limit(k).collect()
    if len(rows) < k:
        raise ValueError(f"k={k} exceeds corpus size {len(rows)}")
    return [(i, list(r["qe"])) for i, r in enumerate(rows)]


def assign_step(qe: DataFrame, cents: list[tuple[int, list[int]]], spark) -> DataFrame:
    """E-step: (vec_id, qe, cid, dist) via one broadcast row + array_min —
    the km1 kernel generalized to driver-supplied centroids."""
    cents_row = (
        spark.createDataFrame(cents, "cid int, qc array<long>")
        .select(F.struct("cid", "qc").alias("c"))
        .agg(F.array_sort(F.collect_list("c")).alias("cents"))
    )

    def dist_to(qc):
        return F.aggregate(
            F.zip_with(F.col("qe"), qc, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda s, x: s + x,
        )

    best = F.array_min(
        F.transform(
            "cents",
            lambda c: F.struct(dist_to(c["qc"]).alias("dist"), c["cid"].alias("cid")),
        )
    )
    return (
        qe.crossJoin(F.broadcast(cents_row))
        .select("vec_id", "qe", best.alias("b"))
        .select(
            "vec_id", "qe", F.col("b.cid").alias("cid"), F.col("b.dist").alias("dist")
        )
    )


def lloyd_iteration(
    spark: SparkSession,
    qe: DataFrame,
    cents: list[tuple[int, list[int]]],
    d: int,
) -> tuple[list[tuple[int, list[int]]], int, int]:
    """One E+M iteration. Returns (new_centroids, inertia, n_moved_cids).
    The Spark plan is ONE K-group aggregate over a narrow projection."""
    assigned = assign_step(qe, cents, spark)
    partials = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dist").alias("inertia"),
        *[
            F.sum(F.element_at("qe", i + 1)).alias(f"s{i}")
            for i in range(d)
        ],
    )
    rows = partials.collect()  # K rows — driver-bounded
    by_cid = {r["cid"]: r for r in rows}
    inertia = sum(int(r["inertia"]) for r in rows)
    new_cents: list[tuple[int, list[int]]] = []
    n_moved = 0
    for cid, old_qc in cents:
        r = by_cid.get(cid)
        if r is None or r["n"] == 0:
            # empty cluster keeps its centroid (standard Lloyd convention)
            new_qc = list(old_qc)
        else:
            n = int(r["n"])
            new_qc = [_iround_div(int(r[f"s{i}"]), n) for i in range(d)]
        if new_qc != list(old_qc):
            n_moved += 1
        new_cents.append((cid, new_qc))
    return new_cents, inertia, n_moved


def _iter_dir(out_dir: str, it: int) -> str:
    return os.path.join(out_dir, "iters", f"{it:04d}")


def _latest_committed_iter(spark: SparkSession, out_dir: str) -> int | None:
    """The last iteration whose centroid write committed (has _SUCCESS)."""
    markers = glob_paths(spark, os.path.join(out_dir, "iters", "*", "_SUCCESS"))
    names = (m.split("/")[-2] for m in markers)
    done = [int(name) for name in names if name.isdigit()]
    return max(done) if done else None


def run_kmeans_job(
    spark: SparkSession,
    embeddings: DataFrame,
    out_dir: str,
    *,
    k: int = 8,
    max_iters: int = 25,
    resume: bool = True,
    run_id: str | None = None,
    write_assignments: bool = False,
) -> dict:
    """Run (or resume) Lloyd k-means to convergence (no centroid moved) or
    max_iters. Commits centroids per iteration under out_dir/iters/NNNN and
    appends one (iter, inertia, n_moved, run_id) manifest row each; resumes
    from the last committed iteration. Returns summary stats; final
    centroids live in out_dir/centroids."""
    run_id = run_id or uuid.uuid4().hex[:12]
    qe = quantize(embeddings)
    d = len(qe.select("qe").first()["qe"])

    # a resume keeps the committed iterations, so they must have been
    # computed under these params; resume=False keeps none, and a run
    # that keeps none clears them: an earlier run's iterations past this
    # run's last one would otherwise be where the next resume starts
    start_iter = _latest_committed_iter(spark, out_dir) if resume else None
    params = {"k": k, "scale": SCALE, "d": d}
    if check_params(spark, out_dir, params, start_iter is not None) is None:
        for kept in ("iters", "manifest"):
            delete_path(spark, os.path.join(out_dir, kept))
        write_params(spark, out_dir, params)

    if start_iter is not None:
        cents_df = spark.read.parquet(_iter_dir(out_dir, start_iter))
        cents = [
            (int(r["cid"]), list(r["qc"]))
            for r in cents_df.orderBy("cid").collect()
        ]
        it = start_iter
        # converged already? the committed manifest row knows
        manifest = read_parquet_rows(spark, os.path.join(out_dir, "manifest"), MANIFEST_DDL)
        last = next((r for r in manifest if r["iter"] == start_iter), None)
        converged = last is not None and last["n_moved"] == 0
        inertia = int(last["inertia"]) if last is not None else None
        resumed = True
    else:
        cents = init_centroids(qe, k)
        it = 0
        converged = False
        inertia = None
        resumed = False

    while not converged and it < max_iters:
        it += 1
        cents, inertia, n_moved = lloyd_iteration(spark, qe, cents, d)
        spark.createDataFrame(cents, "cid int, qc array<long>").coalesce(
            1
        ).write.mode("overwrite").parquet(_iter_dir(out_dir, it))
        append_parquet_file(
            spark, os.path.join(out_dir, "manifest"), [(it, inertia, n_moved, run_id)],
            MANIFEST_DDL,
        )
        converged = n_moved == 0

    final = spark.createDataFrame(cents, "cid int, qc array<long>")
    final.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "centroids")
    )
    if write_assignments:
        assign_step(qe, cents, spark).select("vec_id", "cid", "dist").write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, "assignments"))
    return {
        "k": k,
        "d": d,
        "iters": it,
        "converged": converged,
        "inertia": inertia,
        "resumed": resumed,
        "run_id": run_id,
    }
