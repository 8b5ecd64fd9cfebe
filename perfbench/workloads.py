"""The workloads and the per-layer decomposition of the traced run.

Every workload is a closed loop: one batch operation at a time, the next
starting only after the previous one returned and was checked. Each
iteration has an untimed preparation (build and load new pages) and the
timed operation.

- crawl_job: a fresh adaptive-salted ``run_extract_job`` over new fixture
  pages into an empty out dir;
- cold_pages: ``extract_pages`` with the link and anchor faces over new
  cold pages in four equal tasks, consumed by the corpus-hash sink.

The traced run adds a decomposition: each layer's public call is made on
its own over one fresh input, then a committed job loses a seeded 1/8 of
its partitions and is resumed.
"""

from __future__ import annotations

import itertools
import os
import random
import shutil
import statistics
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from greenocr_spark.extractor import core
from greenocr_spark.extractor.links import extract_anchors, extract_outlinks
from greenocr_spark.extractor.pdf import extract_pdf
from greenocr_spark.functions.sqlfns import adaptive_salted_part_id
from greenocr_spark.operators.extract import extract_pages
from greenocr_spark.plans.job import pending_pages, read_manifest, run_extract_job
from greenocr_spark.sources.pages import write_extracted

from perfbench.inputs import pages, to_frame
from perfbench.verify import ReferenceBatch, row_canon, row_hash, spark_hash

TASKS = 4  # local[4]: one task per core
N_PARTS = 32
N_SALTS = 8
# batch ids the traced decomposition draws its own fresh inputs from
DECOMP_BATCH = 1000
DECOMP_ONE_TASK_BATCH = 1001


class Run:
    """State of one benchmark run: the session, the scratch directory, the
    tracer, the samples and the outputs still to be checked."""

    def __init__(self, spark, work: str, seed: int, tracer, scale: float, speed):
        self.spark = spark
        self.speed = speed  # host-speed probe, sampled around every operation
        self.work = work
        self.seed = seed
        self.tr = tracer
        self.scale = scale
        self.op_s: list[float] = []
        self.prep_s: list[float] = []
        self.traced_op_s: list[float] = []  # traced run: op_s split by tracing
        self.untraced_op_s: list[float] = []
        self.build_s = self.warmup_s = self.peak_rss_mb = 0.0
        self.pending: list[ReferenceBatch] = []  # checked against pure Python at the end
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._ids = itertools.count()

    def fresh_dir(self, name: str) -> str:
        return os.path.join(self.work, f"{name}-{next(self._ids)}")

    def check(self, label: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(label)

    def expect_reference(self, label, kind, batch, n, links, got) -> None:
        self.attempted += 1
        self.pending.append(ReferenceBatch(label, kind, self.seed, batch, n, links, got))


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _manifest_table(out: str) -> pa.Table:
    return pq.read_table(os.path.join(out, "manifest"))


def drop_partitions(snapshot: str, out: str, seed: str) -> int:
    """Copy a committed job to `out` and lose a seeded 1/8 of its
    partitions there: their extracted dirs and their manifest rows, as a
    crash between write and manifest commit would. Returns the docs lost."""
    shutil.copytree(snapshot, out)
    manifest = _manifest_table(out)
    docs = dict(zip(manifest["part_id"].to_pylist(), manifest["n_docs"].to_pylist()))
    parts = sorted(docs)
    lost = random.Random(seed).sample(parts, max(1, len(parts) // 8))
    for p in lost:
        shutil.rmtree(os.path.join(out, "extracted", f"part_id={p}"))
    lost_ids = pa.array(lost, type=manifest["part_id"].type)
    kept = manifest.filter(pc.invert(pc.is_in(manifest["part_id"], value_set=lost_ids)))
    mdir = os.path.join(out, "manifest")
    shutil.rmtree(mdir)
    os.makedirs(mdir)
    pq.write_table(kept, os.path.join(mdir, "part-00000-kept.parquet"))
    return sum(docs[p] for p in lost)


class Workload:
    kind = "crawl"  # input generator
    links = False  # run the outlink and anchor faces
    pages_per_op = 4000
    # share of a full batch the untimed warm-up pass runs over
    warmup_share = 0.25

    def __init__(self, run: Run):
        self.run = run
        self.spark = run.spark
        self.tr = run.tr
        self.n = max(TASKS * 8, int(self.pages_per_op * run.scale))
        self.batches = 0  # batch ids handed out so far; never reused

    # -- program calls, each inside a span named after its layer ---------

    def job(self, df, out: str, run_id: str | None = None):
        with self.tr.span("plans.run_extract_job") as sp:
            table = run_extract_job(
                self.spark,
                df,
                out,
                n_parts=N_PARTS,
                n_salts=N_SALTS,
                run_id=run_id,
                salting="adaptive",
                with_links=self.links,
                with_anchors=self.links,
            )
        return table, sp.seconds

    def extract(self, df):
        """extract_pages over df, consumed by the hash sink."""
        with self.tr.span("operators.extract_pages") as sp:
            ext = extract_pages(df, with_links=self.links, with_anchors=self.links)
            with self.tr.span("bench.hash_sink"):
                got = spark_hash(ext, self.links)
        return got, sp.seconds

    def load(self, batch: int, n: int, partitions: int = TASKS):
        rows = pages(self.kind, self.run.seed, batch, 0, n)
        with self.tr.span("bench.load"):
            df = to_frame(self.spark, rows, partitions)
        return rows, df

    # -- the loop ---------------------------------------------------------

    def warmup(self) -> None:
        """One untimed pass of the timed operation over a smaller batch:
        the first pass pays JIT and worker start-up."""
        self.iteration(record=False, n=max(TASKS, int(self.n * self.warmup_share)))

    def iteration(self, record: bool = True, n: int | None = None) -> None:
        """Prepare a new batch of n pages (default: a full one), then run
        the timed operation over it."""
        k = self.batches
        self.batches += 1
        n = n or self.n
        t0 = time.perf_counter()
        _, df = self.load(k, n)
        prep = time.perf_counter() - t0
        self.run.speed.sample()
        op = self.operate(k, df, n)
        self.run.speed.sample()
        df.unpersist()
        if record:
            self.run.prep_s.append(prep)
            self.run.op_s.append(op)

    def operate(self, k: int, df, n: int) -> float:
        """Timed operation over batch k of n pages; records its output."""
        raise NotImplementedError

    # -- traced per-layer decomposition -----------------------------------

    def decompose(self) -> dict:
        run, tr, spark, n = self.run, self.tr, self.spark, self.n
        rows, df = self.load(DECOMP_BATCH, n)
        m: dict = {}

        with tr.span("extractor.replay"):
            rep = replay(rows, self.links)
        m.update(rep.metrics())

        with tr.span("functions.adaptive_salted_part_id") as sp:
            salted, hot = adaptive_salted_part_id(df, "url", N_PARTS, N_SALTS)
            counts = [r["count"] for r in salted.groupBy("part_id").count().collect()]
        salt_s = m["functions.salt_s"] = sp.seconds
        m["functions.part_rows_max_over_mean"] = max(counts) / (n / N_PARTS)
        m["functions.hot_hosts"] = len(hot)

        got, t4 = self.extract(df)
        run.check("decomp.extract", got == (rep.xor, n))
        one_n = n // TASKS
        _, one_df = self.load(DECOMP_ONE_TASK_BATCH, one_n, partitions=1)
        got, t1 = self.extract(one_df)
        run.expect_reference("decomp.extract_1task", self.kind, DECOMP_ONE_TASK_BATCH, one_n, self.links, got)
        one_df.unpersist()
        m["operators.extract_pages_s"] = t4
        m["operators.extract_pages_1task_s"] = t1
        # equal per-task input: four tasks of one_n rows each against one
        m["operators.scale_eff_1to4"] = (n / t4) / (TASKS * one_n / t1)
        m["operators.overhead_frac"] = 1.0 - rep.op_seconds / (t4 * TASKS)

        extracted = extract_pages(
            salted.repartition(N_PARTS, "part_id").sortWithinPartitions("url"),
            passthrough=("part_id",),
            with_links=self.links,
            with_anchors=self.links,
        ).cache()
        extracted.count()
        target = run.fresh_dir("decomp-write")
        with tr.span("sources.write_extracted") as sp:
            write_extracted(extracted, target, partition_col="part_id")
        extracted.unpersist()
        write_s = m["sources.write_extracted_s"] = sp.seconds
        m["sources.bytes_written"] = _du(target)

        committed = run.fresh_dir("decomp-job")
        table, job_s = self.job(df, committed)
        fresh = spark_hash(table, self.links)
        run.expect_reference("decomp.job", self.kind, DECOMP_BATCH, n, self.links, fresh)
        m["plans.run_extract_job_s"] = job_s
        m["plans.run_extract_job_self_s"] = job_s - salt_s - t4 - write_s

        # resume after losing 1/8 of the partitions
        out = run.fresh_dir("decomp-resume")
        lost_docs = drop_partitions(committed, out, f"{run.seed}:decomp")
        with tr.span("plans.pending_pages") as sp:
            pending_pages(spark, df, out, N_PARTS, N_SALTS).count()
        m["plans.pending_pages_s"] = sp.seconds
        with tr.span("plans.read_manifest") as sp:
            read_manifest(spark, out).count()
        m["plans.read_manifest_s"] = sp.seconds
        run_id = f"resume{run.seed}"
        table, m["plans.resume_s"] = self.job(df, out, run_id)
        run.check("decomp.resume", spark_hash(table, self.links) == fresh)
        _, m["plans.resume_noop_s"] = self.job(df, out)
        new_rows = _manifest_table(out).filter(pc.field("run_id") == run_id)
        redone = pc.sum(new_rows["n_docs"]).as_py() or 0
        m["plans.pending_docs"] = lost_docs
        m["plans.reextracted_docs"] = redone
        m["plans.resume_useful_ratio"] = lost_docs / redone if redone else 0.0
        df.unpersist()
        return m


class CrawlJob(Workload):
    def operate(self, k: int, df, n: int):
        out = self.run.fresh_dir("crawl")
        table, op = self.job(df, out)
        self.run.expect_reference(f"crawl.{k}", self.kind, k, n, self.links, spark_hash(table, self.links))
        shutil.rmtree(out)
        return op


class ColdPages(Workload):
    kind = "cold"
    links = True
    pages_per_op = 2000
    # after a quarter-size pass, extraction still sped up by ~20% over the
    # next four operations; a full pass costs a few seconds more
    warmup_share = 1.0

    def operate(self, k: int, df, n: int):
        got, op = self.extract(df)
        self.run.expect_reference(f"cold.{k}", self.kind, k, n, self.links, got)
        return op


WORKLOADS = {"crawl_job": CrawlJob, "cold_pages": ColdPages}


# -- single-process replay of the extractor in this process ---------------

STAGES = (
    "decode_bytes",
    "repair_markup",
    "tokenize_blocks",
    "score_blocks",
    "classify_blocks",
    "decode_blocks",
    "extract_pdf",
    "extract_outlinks",
    "extract_anchors",
)


class Replay:
    def __init__(self):
        self.stage_s = dict.fromkeys(STAGES, 0.0)
        self.doc_us: list[float] = []
        self.docs = {"html": 0, "pdf": 0, "empty": 0}
        self.blocks = 0
        self.content_blocks = 0
        self.bytes_in = 0
        self.op_seconds = 0.0  # time of the stages the timed operation runs
        self.xor = 0

    def metrics(self) -> dict:
        m = {f"extractor.{k}_s": v for k, v in self.stage_s.items()}
        m["extractor.doc_us_p50"] = statistics.median(self.doc_us)
        m["extractor.doc_us_p99"] = statistics.quantiles(self.doc_us, n=100)[98]
        for kind, n in self.docs.items():
            m[f"extractor.docs_{kind}"] = n
        m["extractor.blocks"] = self.blocks
        m["extractor.content_blocks"] = self.content_blocks
        m["extractor.bytes_in"] = self.bytes_in
        return m


def replay(rows: list[dict], links_in_op: bool) -> Replay:
    """Run the extractor's public stage functions over rows in this process,
    in extract_document's order, timing each stage. The link faces always
    run (their cost is reported on every workload) but count towards the
    per-document time only when the workload's operation runs them."""
    rep = Replay()
    st = rep.stage_s
    clock = time.perf_counter
    for p in rows:
        raw, url = p["html"], p["url"]
        t0 = clock()
        if not raw:
            r = core.extract_document(raw)
            rep.docs["empty"] += 1
        elif raw.startswith(core.PDF_MAGIC):
            r = extract_pdf(raw)
            st["extract_pdf"] += clock() - t0
            rep.docs["pdf"] += 1
        else:
            a = clock()
            s = core.decode_bytes(raw)
            b = clock()
            markup = core.repair_markup(s)
            c = clock()
            blocks = core.tokenize_blocks(markup)
            d = clock()
            scores = core.score_blocks(blocks)
            e = clock()
            cls = core.classify_blocks(blocks, scores)
            f = clock()
            text, spans = core.decode_blocks(blocks, cls)
            g = clock()
            st["decode_bytes"] += b - a
            st["repair_markup"] += c - b
            st["tokenize_blocks"] += d - c
            st["score_blocks"] += e - d
            st["classify_blocks"] += f - e
            st["decode_blocks"] += g - f
            n_content = int(cls.sum()) if len(cls) else 0
            r = {
                "text": text,
                "spans": spans,
                "n_blocks": len(blocks),
                "n_content": n_content,
                "n_boilerplate": len(blocks) - n_content,
                "kind": "html",
            }
            rep.docs["html"] += 1
            rep.blocks += len(blocks)
            rep.content_blocks += n_content
        t1 = clock()
        outlinks = extract_outlinks(raw, base_url=url)
        t2 = clock()
        anchors = extract_anchors(raw, base_url=url, valid=outlinks)
        t3 = clock()
        st["extract_outlinks"] += t2 - t1
        st["extract_anchors"] += t3 - t2
        doc = (t1 - t0) + ((t3 - t1) if links_in_op else 0.0)
        rep.doc_us.append(doc * 1e6)
        rep.op_seconds += doc
        rep.bytes_in += len(raw) if raw else 0
        if not links_in_op:
            outlinks = anchors = None
        rep.xor ^= row_hash(row_canon(url, r, outlinks, anchors))
    return rep
