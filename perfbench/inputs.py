"""Seeded input generators for the benchmark.

Every page the program sees is built here from ``(seed, batch)`` and handed
over as a DataFrame; the same pair always yields byte-identical pages, so
the pure-Python reference can rebuild any batch in another process.

- crawl pages: ``greenocr_spark.fixtures.make_page`` rows — all 16
  degradation cases (PDF, UTF-16, huge-block, ...), Zipf hosts with one
  host near 30%, shared nav/footer markup;
- cold pages: large HTML bodies where every nav, footer, paragraph and
  anchor text is unique to its page, uniform hosts, and a thin PDF share
  (one page in 64, unique text) so every extractor route is timed.
"""

from __future__ import annotations

import datetime as _dt
import itertools

import numpy as np
import pandas as pd

from greenocr_spark.extractor.pdf import build_pdf
from greenocr_spark.fixtures import make_page

PAGE_COLS = ("url", "warc_ts", "html", "text", "lang")
PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"

# batch b of a seed covers page indices [b * BATCH_STRIDE, ...): batches of
# one seed never share a page, so no batch re-uses another's text
BATCH_STRIDE = 1 << 18

_SYLLABLES = (
    "ka lo mi ne su ta ri po ve da fu zo be gi hu ja ky le mo nu "
    "pa qi ro si tu va wi xo yu ze ba ce di fo ga he ix jo ku la"
).split()
# 40**3 three-syllable pseudo-words: a vocabulary large enough that random
# paragraphs never repeat, built once in a fixed order
_VOCAB = np.array(["".join(t) for t in itertools.product(_SYLLABLES, repeat=3)], dtype=object)
_EPOCH = _dt.datetime(2025, 6, 1)
COLD_HOSTS = 64
COLD_PDF_EVERY = 64


def crawl_pages(seed: int, batch: int, lo: int, hi: int) -> list[dict]:
    """Fixture pages lo..hi-1 of batch `batch` under `seed`."""
    base = batch * BATCH_STRIDE
    return [make_page(base + k, seed) for k in range(lo, hi)]


class _Words:
    """Pseudo-words for one page, drawn in a single vectorised call."""

    def __init__(self, rng: np.random.Generator, n: int):
        self._w = _VOCAB[rng.integers(0, len(_VOCAB), n)].tolist()
        self._i = 0

    def take(self, n: int) -> str:
        i = self._i
        self._i = i + n
        return " ".join(self._w[i : i + n])


def _cold_pdf(rng: np.random.Generator, uid: str) -> bytes:
    w = _Words(rng, 24 * 12)
    spans = [(72.0, 700.0 - 18 * k, f"{uid} {w.take(12)}") for k in range(24)]
    return build_pdf([spans[:12], spans[12:]], compress=bool(rng.integers(0, 2)))


def _cold_html(rng: np.random.Generator, uid: str) -> bytes:
    para_lens = rng.integers(60, 140, 24).tolist()
    ref_hosts = rng.integers(0, 999, 24).tolist()
    w = _Words(rng, 8 * 2 + sum(para_lens) + 24 * 9 + 5 + 10)
    nav = "".join(f"<li><a href='/s/{uid}/{j}'>{w.take(2)} {uid}-{j}</a></li>" for j in range(8))
    paras = "".join(f"<p>{w.take(n)}</p>" for n in para_lens)
    links = "".join(
        f"<div><a href='https://ref{h}.example.com/{uid}/{j}'>{w.take(3)}</a> {w.take(6)}</div>"
        for j, h in enumerate(ref_hosts)
    )
    doc = (
        f"<!DOCTYPE html><html><head><title>{uid} {w.take(5)}</title></head>"
        f"<body><nav><ul>{nav}</ul></nav><main><article>{paras}</article>"
        f"<aside>{links}</aside></main>"
        f"<footer><p>{uid} {w.take(10)}</p></footer></body></html>"
    )
    return doc.encode("utf-8")


def cold_pages(seed: int, batch: int, lo: int, hi: int) -> list[dict]:
    """Cold pages lo..hi-1 of batch `batch` under `seed` (about 20 KB each).
    Each page has its own random stream, so any slice builds alone."""
    rows = []
    for k in range(lo, hi):
        i = batch * BATCH_STRIDE + k
        rng = np.random.default_rng([seed, i])
        uid = f"c{seed}x{i}"
        host = f"cold{int(rng.integers(0, COLD_HOSTS))}.example.net"
        pdf = k % COLD_PDF_EVERY == COLD_PDF_EVERY - 1
        rows.append(
            {
                "url": f"https://{host}/doc/{uid}",
                "warc_ts": _EPOCH + _dt.timedelta(seconds=i),
                "html": _cold_pdf(rng, uid) if pdf else _cold_html(rng, uid),
                "text": None,
                "lang": "en",
            }
        )
    return rows


def pages(kind: str, seed: int, batch: int, lo: int, hi: int) -> list[dict]:
    return GENERATORS[kind](seed, batch, lo, hi)


GENERATORS = {"crawl": crawl_pages, "cold": cold_pages}


def to_frame(spark, rows: list[dict], partitions: int):
    """Load rows as a cached pages DataFrame with exactly `partitions`
    equal contiguous slices, materialised before return."""
    pdf = pd.DataFrame({c: [r[c] for r in rows] for c in PAGE_COLS})
    df = spark.createDataFrame(pdf, PAGES_DDL)
    if df.rdd.getNumPartitions() != partitions:
        df = df.coalesce(partitions) if partitions == 1 else df.repartition(partitions)
    df = df.cache()
    df.count()
    return df
