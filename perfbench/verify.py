"""Byte-identity checks: the program's Spark output against the pure-Python
extractor spec, both reduced to one order-insensitive corpus hash.

Each output row maps to a canonical string — (url, text, spans, counts,
kind), the ex4 canon of the repository's golden corpus test — plus, when
the link faces ran, the outlink list and the (dst, anchor) pairs. The row
hash is the first 60 bits of its sha256; the corpus hash is the xor of all
row hashes, so it needs no ordering and combines map-side on Spark.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import signal
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from greenocr_spark.extractor.core import extract_document
from greenocr_spark.extractor.links import extract_anchors, extract_outlinks
from greenocr_spark.fixtures import make_pages

from perfbench.inputs import pages

GOLDEN_N = 1500
GOLDEN_XOR = 1061150180202206482  # seed-42 fixture corpus, frozen ex4 literal

US, RS, GS = "\x1f", "\x1e", "\x1d"


def row_canon(url: str, r: dict, links: list | None, anchors: list | None) -> str:
    """Canonical string of one extracted row; `r` is extract_document's
    result, links/anchors are None when those faces did not run."""
    spans = ";".join(f"{b},{s},{e},{c}" for (b, s, e, c) in r["spans"])
    parts = [
        url,
        r["text"],
        spans,
        f'{r["n_blocks"]},{r["n_content"]},{r["n_boilerplate"]},{r["kind"]}',
    ]
    if links is not None:
        parts += [RS.join(links), str(len(links))]
    if anchors is not None:
        parts += [RS.join(f"{d}{GS}{a}" for d, a in anchors), str(len(anchors))]
    return US.join(parts)


def row_hash(canon: str) -> int:
    return int(hashlib.sha256(canon.encode("utf-8")).hexdigest()[:15], 16)


def reference_hash(rows: list[dict], links: bool) -> tuple[int, int]:
    """(xor, n) of the pure-Python extractor over page rows."""
    acc = 0
    for p in rows:
        r = extract_document(p["html"])
        ol = an = None
        if links:
            ol = extract_outlinks(p["html"], base_url=p["url"])
            an = extract_anchors(p["html"], base_url=p["url"], valid=ol)
        acc ^= row_hash(row_canon(p["url"], r, ol, an))
    return acc, len(rows)


def check_golden() -> None:
    """Fail fast when the extractor no longer reproduces the frozen
    seed-42 corpus literal: timing a wrong extractor is meaningless."""
    got = reference_hash(make_pages(GOLDEN_N, seed=42), links=False)
    if got != (GOLDEN_XOR, GOLDEN_N):
        raise SystemExit(
            f"extractor drifted from the frozen seed-42 corpus hash: got {got}, "
            f"want {(GOLDEN_XOR, GOLDEN_N)}"
        )


def spark_hash_frame(df: DataFrame, links: bool) -> DataFrame:
    """One-row (h, n) aggregate of an extracted DataFrame, computed in the
    JVM with the same canon as row_canon."""
    spans = F.array_join(
        F.transform("spans", lambda s: F.concat_ws(",", s["block_idx"], s["start"], s["end"], s["cls"])),
        ";",
    )
    parts = [
        F.col("url"),
        F.col("text"),
        spans,
        F.concat_ws(",", "n_blocks", "n_content", "n_boilerplate", "kind"),
    ]
    if links:
        parts += [
            F.array_join("outlinks", RS),
            F.col("n_links").cast("string"),
            F.array_join(F.transform("anchors", lambda a: F.concat_ws(GS, a["dst"], a["anchor"])), RS),
            F.col("n_anchors").cast("string"),
        ]
    h = F.conv(F.substring(F.sha2(F.concat_ws(US, *parts), 256), 1, 15), 16, 10).cast("long")
    return df.select(h.alias("h")).agg(F.bit_xor("h").alias("h"), F.count("*").alias("n"))


def spark_hash(df: DataFrame, links: bool) -> tuple[int, int]:
    row = spark_hash_frame(df, links).collect()[0]
    return (row["h"] or 0), row["n"]


# ---- reference hashes of generated batches, in worker processes ----------


def _chunk_hash(task: tuple) -> tuple[int, int, int]:
    key, kind, seed, batch, lo, hi, links = task
    acc, n = reference_hash(pages(kind, seed, batch, lo, hi), links)
    return key, acc, n


class ReferenceBatch:
    """Identifies a generated batch whose Spark output hash was recorded."""

    def __init__(self, label: str, kind: str, seed: int, batch: int, n: int, links: bool, got):
        self.label, self.kind, self.seed, self.batch = label, kind, seed, batch
        self.n, self.links, self.got = n, links, got


@contextmanager
def worker_pool(procs: int):
    """Pool of `procs` forked workers, stopped and joined on exit. Fork it
    before the session starts: a forked pool needs no resource-tracker
    process, and there is no JVM thread yet to fork with. Workers keep the
    default SIGTERM action, so terminating the pool stops them."""
    pool = multiprocessing.get_context("fork").Pool(
        procs, initializer=signal.signal, initargs=(signal.SIGTERM, signal.SIG_DFL)
    )
    try:
        yield pool
        pool.close()
    except BaseException:
        pool.terminate()
        raise
    finally:
        pool.join()


def reference_many(batches: list[ReferenceBatch], pool, procs: int) -> list[tuple[int, int]]:
    """Pure-Python (xor, n) of every batch, each split into `procs` slices
    over the pool."""
    tasks = []
    for key, b in enumerate(batches):
        step = -(-b.n // procs)
        tasks += [
            (key, b.kind, b.seed, b.batch, lo, min(lo + step, b.n), b.links)
            for lo in range(0, b.n, step)
        ]
    out = [(0, 0)] * len(batches)
    for key, acc, n in pool.imap_unordered(_chunk_hash, tasks):
        x, m = out[key]
        out[key] = (x ^ acc, m + n)
    return out
