"""WARC source: read Common-Crawl-style WARC segment files into the pages
schema (url, warc_ts, html) — the container format a real crawl corpus
actually arrives in (S1/S7 of SURVEY.md §2 for the native crawl layout;
reference analog: the directory glob scan, exe_t.py:475).

Layout mirrors Common Crawl's: many independent .warc segment files, each a
concatenation of records. The FILE is the unit of parallelism (one Spark
task per segment, exactly how CC jobs shard on its ~1 GB WARCs); records
within a file parse sequentially inside an Arrow-batched mapInPandas.
Parsing is Content-Length-driven, so binary payloads containing header-like
byte sequences can never confuse record boundaries.

Subset implemented (and emitted by write_warc): WARC/1.0, headers
WARC-Type / WARC-Target-URI / WARC-Date / Content-Length, response records
only, plain or per-record-gzip-member segments (`.warc` / `.warc.gz` —
the actual Common Crawl wire format, where each record is its own gzip
member so a reader can stream member-by-member without decompressing the
whole segment). Production deltas, deliberately out of scope here:
request/metadata record types beyond filtering on WARC-Type, HTTP
response envelopes inside the block (split at the first \\r\\n\\r\\n).
The strict=False path stops a segment at the first malformed record
instead of failing it.
"""

from __future__ import annotations

import datetime as _dt
import gzip as _gzip
import os
import zlib as _zlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from greenocr_spark.worker import trim_import_caches

_CRLF = b"\r\n"
_VERSION = b"WARC/1.0"

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampNTZType()),
        StructField("html", BinaryType()),
    ]
)


def _format_ts(ts: _dt.datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def _parse_ts(s: str) -> _dt.datetime:
    return _dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%SZ")


def _record_bytes(p: dict) -> bytes:
    html = p["html"] if p["html"] is not None else b""
    return (
        _VERSION + _CRLF
        + b"WARC-Type: response" + _CRLF
        + b"WARC-Target-URI: " + p["url"].encode("utf-8") + _CRLF
        + b"WARC-Date: " + _format_ts(p["warc_ts"]).encode() + _CRLF
        + b"Content-Length: " + str(len(html)).encode() + _CRLF
        + _CRLF
        + html
        + _CRLF + _CRLF
    )


def write_warc(pages: list[dict], path: str, compress: bool = False) -> str:
    """Serialize page dicts (url, warc_ts, html) as one WARC segment file.
    Deterministic: record order = input order, fixed header order. With
    compress=True, each record becomes its own gzip member (the Common
    Crawl .warc.gz convention; mtime pinned for byte-determinism)."""
    with open(path, "wb") as f:
        for p in pages:
            rec = _record_bytes(p)
            if compress:
                rec = _gzip.compress(rec, mtime=0)
            f.write(rec)
    return path


def write_warc_dir(
    pages: list[dict], out_dir: str, n_segments: int = 4, compress: bool = False
) -> str:
    """Shard pages round-robin into n_segments .warc[.gz] files (the CC
    layout: parallelism comes from segment count, not intra-file splits)."""
    os.makedirs(out_dir, exist_ok=True)
    ext = "warc.gz" if compress else "warc"
    for s in range(n_segments):
        write_warc(
            [p for i, p in enumerate(pages) if i % n_segments == s],
            os.path.join(out_dir, f"segment-{s:05d}.{ext}"),
            compress=compress,
        )
    return out_dir


def _gunzip_members(blob: bytes) -> bytes:
    """Decompress a concatenation of gzip members (one per record)."""
    out = []
    pos, n = 0, len(blob)
    while pos < n:
        d = _zlib.decompressobj(wbits=31)  # 31 = gzip wrapper
        out.append(d.decompress(blob[pos:]))
        consumed = len(blob) - pos - len(d.unused_data)
        if consumed <= 0:  # pragma: no cover - corrupt stream guard
            raise ValueError(f"gzip member made no progress at byte {pos}")
        pos += consumed
    return b"".join(out)


def parse_warc_bytes(blob: bytes, strict: bool = True):
    """Yield (url, warc_ts, html) from one segment's bytes. Content-Length
    drives the body read — payload bytes are never scanned for markers."""
    pos, n = 0, len(blob)
    while pos < n:
        # skip inter-record blank lines
        while blob.startswith(_CRLF, pos):
            pos += 2
        if pos >= n:
            break
        end = blob.find(_CRLF + _CRLF, pos)
        if end < 0:
            if strict:
                raise ValueError(f"truncated WARC header block at byte {pos}")
            return
        header_block = blob[pos:end]
        lines = header_block.split(_CRLF)
        if lines[0] != _VERSION:
            if strict:
                raise ValueError(f"bad WARC version line at byte {pos}: {lines[0]!r}")
            return
        headers = {}
        for line in lines[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers[b"content-length"])
            url = headers[b"warc-target-uri"].decode("utf-8")
            ts = _parse_ts(headers[b"warc-date"].decode("ascii"))
        except (KeyError, ValueError) as e:
            if strict:
                raise ValueError(f"malformed WARC headers at byte {pos}: {e}") from e
            return
        body_start = end + 4
        if body_start + clen > n:
            if strict:
                raise ValueError(f"truncated WARC body at byte {body_start}")
            return
        if headers.get(b"warc-type", b"response") == b"response":
            yield url, ts, blob[body_start : body_start + clen]
        pos = body_start + clen


def read_warc(spark: SparkSession, warc_dir: str, strict: bool = True) -> DataFrame:
    """Scan a directory of WARC segments into (url, warc_ts, html).

    binaryFile source → one task per segment → Content-Length parse in an
    Arrow-batched mapInPandas. Narrow (no shuffle); at cluster scale the
    segment files ARE the partitions, so parallelism = segment count — the
    same contract Common Crawl's own layout gives every consumer."""
    # exactly the two supported extensions — an open-ended '*.warc*' would
    # also match stray 'segment.warc.tmp' / '.bak' files, failing the whole
    # read in strict mode or feeding garbage in lenient (ADVICE r03)
    raw = spark.read.format("binaryFile").load(
        os.path.join(warc_dir, "*.{warc,warc.gz}")
    ).select("content")
    return raw.mapInPandas(_segment_parser(strict), schema=PAGES_SCHEMA)


def stream_warc(spark: SparkSession, warc_dir: str, strict: bool = True) -> DataFrame:
    """Streaming twin of read_warc: a WARC-drop directory as a Structured
    Streaming source (new segments picked up per micro-batch — the
    crawl-delivery ingestion face). Identical parse path; the batch
    pipeline IS the streaming pipeline."""
    raw = (
        spark.readStream.format("binaryFile")
        # the binaryFile source's fixed schema must be stated explicitly in
        # streaming mode (no inference before the stream starts)
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .load(os.path.join(warc_dir, "*.{warc,warc.gz}"))
        .select("content")
    )
    return raw.mapInPandas(_segment_parser(strict), schema=PAGES_SCHEMA)


def _segment_parser(strict: bool):
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trim_import_caches()
        for pdf in batches:
            urls, tss, htmls = [], [], []
            for blob in pdf["content"]:
                blob = bytes(blob)
                if blob[:2] == b"\x1f\x8b":  # gzip magic → member-per-record
                    blob = _gunzip_members(blob)
                for url, ts, html in parse_warc_bytes(blob, strict=strict):
                    urls.append(url)
                    tss.append(ts)
                    htmls.append(html)
            yield pd.DataFrame({"url": urls, "warc_ts": tss, "html": htmls})

    return run
