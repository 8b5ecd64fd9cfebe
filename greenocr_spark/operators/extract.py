"""The vectorized extraction stage: DataFrame → DataFrame via mapInArrow.

This is UD1+UD3+UD5+UD6 of SURVEY.md §2.9 fused into one Arrow-batched
stage (one JVM↔Python boundary crossing per batch, never per row). The
per-document math is greenocr_spark.extractor.core — the byte-identity
spec — run as one core.PageBatch per Arrow batch: each page is decoded,
repaired and tokenized on its own (a PDF payload is layout-parsed into
blocks instead), then the whole batch is scored, classified and decoded in
one numpy pass under the frozen DEFAULT_CONFIG (PageBatch.finish()), so
Spark output ≡ reference extractor output. The output batch is built
column by column in Arrow, against the Arrow form of extract_schema: the
batch pass's columns and the link faces' lists go straight to Arrow
arrays; no pandas.

The stage can also count the job's manifest sums where it runs (PartTally):
the job then needs no second pass over what it wrote.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
import pyarrow.compute as pc

from pyspark import TaskContext
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from greenocr_spark.extractor.core import CONTENT, Extracted, PageBatch
from greenocr_spark.worker import trim_import_caches

SPAN_TYPE = ArrayType(
    StructType(
        [
            StructField("block_idx", IntegerType()),
            StructField("start", IntegerType()),
            StructField("end", IntegerType()),
            StructField("cls", StringType()),
        ]
    )
)

EXTRACT_FIELDS = [
    StructField("url", StringType()),
    StructField("text", StringType()),
    StructField("spans", SPAN_TYPE),
    StructField("n_blocks", IntegerType()),
    StructField("n_content", IntegerType()),
    StructField("n_boilerplate", IntegerType()),
    StructField("bytes_in", LongType()),
    StructField("bytes_out", LongType()),
    StructField("kind", StringType()),
]


LINK_FIELDS = [
    StructField("outlinks", ArrayType(StringType())),
    StructField("n_links", IntegerType()),
]

ANCHOR_FIELDS = [
    StructField(
        "anchors",
        ArrayType(
            StructType(
                [
                    StructField("dst", StringType()),
                    StructField("anchor", StringType()),
                ]
            )
        ),
    ),
    StructField("n_anchors", IntegerType()),
]


class PartTally(AccumulatorParam):
    """Per-part_id manifest sums counted inside the extraction tasks. A
    value is (splits, sums): the input splits merged so far and
    {part_id: [n_docs, n_content, n_boilerplate, bytes_in, bytes_out]}.

    Each task adds one value, for its own split, after its last batch.
    Merges stay exact under retries: Spark drops a failed attempt's
    update, and a second successful attempt of a split (a speculative
    copy, a recomputed stage) is dropped here, because extraction is
    deterministic and its sums equal the ones already merged. The driver
    holds one split id per input split and one row per part_id."""

    def zero(self, value):
        return set(), {}

    def addInPlace(self, value, update):
        splits, sums = value
        if not splits.isdisjoint(update[0]):
            return value
        splits |= update[0]
        for part_id, row in update[1].items():
            have = sums.get(part_id)
            sums[part_id] = list(row) if have is None else [a + b for a, b in zip(have, row)]
        return value


def extract_schema(
    passthrough: list | None = None,
    input_schema: StructType | None = None,
    with_links: bool = False,
    with_anchors: bool = False,
) -> StructType:
    fields = list(EXTRACT_FIELDS)
    if with_links:
        fields += LINK_FIELDS
    if with_anchors:
        fields += ANCHOR_FIELDS
    if passthrough:
        by_name = {f.name: f for f in (input_schema.fields if input_schema else [])}
        for name in passthrough:
            fields.append(by_name[name])
    return StructType(fields)


def extract_pages(
    df: DataFrame,
    passthrough: tuple = (),
    with_links: bool = False,
    with_anchors: bool = False,
    *,
    tally=None,
) -> DataFrame:
    """Run main-content extraction over a pages DataFrame.

    Input requires columns (url:string, html:binary); `passthrough` columns
    are carried to the output unchanged (e.g. part_id). Narrow operation —
    preserves the input's partitioning, no shuffle.

    with_links=True additionally harvests each page's outlinks
    (extractor/links spec) in the SAME batch loop — at 10^12 pages the
    payload scan dominates every face, so this is the only per-document
    stage: link rows are `extract_pages(df, with_links=True).select("url",
    "outlinks", "n_links")`. Default off: the text-only schema and every
    frozen byte-identity surface are untouched.

    with_anchors=True likewise fuses the anchor-text harvest ((dst, anchor)
    per closed <a> element, duplicates kept); composes freely with
    with_links. Either face flag runs extractor/links' one link pass per
    page, which yields the outlinks and the anchors together.

    tally: an accumulator of PartTally. Each task then sums its rows'
    manifest counts per part_id (a passthrough column) over all its
    batches and adds them once, after its last batch."""
    schema = extract_schema(list(passthrough), df.schema, with_links, with_anchors)
    types = {f.name: f.type for f in to_arrow_schema(schema)}
    keep = ["url", "html", *passthrough]
    if with_links or with_anchors:
        from greenocr_spark.extractor.links import extract_link_faces, extract_outlinks

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        trim_import_caches()
        sums: dict = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            urls = batch.column("url").to_pylist()
            pages = PageBatch()
            links, anchors = [], []
            for url, raw in zip(urls, batch.column("html").to_pylist()):
                # markup: the decoded page, which the link faces read too
                # (None for PDF and empty pages, which have no links)
                markup = pages.add(raw)
                if with_anchors:
                    page_links, page_anchors = extract_link_faces(markup, base_url=url)
                    anchors.append(page_anchors)
                elif with_links:
                    page_links = extract_outlinks(markup, base_url=url)
                if with_links:
                    links.append(page_links)
            ex = pages.finish()
            n_boilerplate = ex.n_blocks - ex.n_content
            text = pa.array(ex.text, types["text"])
            bytes_in = pc.binary_length(batch.column("html")).fill_null(0).cast(pa.int64())
            bytes_out = pc.binary_length(text).cast(pa.int64())
            cols = {
                "url": batch.column("url"),
                "text": text,
                "spans": _spans(ex, types["spans"]),
                "n_blocks": pa.array(ex.n_blocks, types["n_blocks"]),
                "n_content": pa.array(ex.n_content, types["n_content"]),
                "n_boilerplate": pa.array(n_boilerplate, types["n_boilerplate"]),
                "bytes_in": bytes_in,
                "bytes_out": bytes_out,
                "kind": pa.array(ex.kind, types["kind"]),
            }
            # the link faces are lists of strings and of (dst, anchor)
            # tuples: Arrow converts them in C++, without Python per item
            if with_links:
                cols["outlinks"] = pa.array(links, types["outlinks"])
                cols["n_links"] = pc.list_value_length(cols["outlinks"]).cast(types["n_links"])
            if with_anchors:
                cols["anchors"] = pa.array(anchors, types["anchors"])
                cols["n_anchors"] = pc.list_value_length(cols["anchors"]).cast(types["n_anchors"])
            for name in passthrough:
                cols[name] = batch.column(name)
            if tally is not None:
                counts = zip(
                    batch.column("part_id").to_pylist(), ex.n_content.tolist(),
                    n_boilerplate.tolist(), bytes_in.to_pylist(), bytes_out.to_pylist(),
                )
                for part_id, n_content, n_boiler, b_in, b_out in counts:
                    row = sums.setdefault(part_id, [0, 0, 0, 0, 0])
                    row[0] += 1
                    row[1] += n_content
                    row[2] += n_boiler
                    row[3] += b_in
                    row[4] += b_out
            yield pa.RecordBatch.from_arrays(list(cols.values()), names=list(cols))
        if tally is not None:
            tally.add(({TaskContext.get().partitionId()}, sums))

    return df.select(*keep).mapInArrow(run, schema=schema)


def _spans(ex: Extracted, list_type: pa.ListType) -> pa.ListArray:
    """The spans column of a finished PageBatch, from its span columns;
    every span's class is CONTENT."""
    fields = list(list_type.value_type)
    children = [pa.array(c, f.type) for c, f in zip((ex.block_idx, ex.start, ex.end), fields)]
    cls = pa.repeat(pa.scalar(CONTENT, fields[3].type), len(ex.block_idx))
    values = pa.StructArray.from_arrays([*children, cls], fields=fields)
    return pa.ListArray.from_arrays(pa.array(ex.span_bounds, pa.int32()), values, type=list_type)


def extract_anchor_rows(df: DataFrame) -> DataFrame:
    """Anchor-text harvest as rows: one (src, seq, dst, anchor) row per
    closed <a href>…</a> element of every page, seq = the element's 0-based
    position in its page's anchor list. Duplicates are kept (anchor-text
    aggregation counts multiplicity) and seq keeps each row unique, so
    order-insensitive xor-hash canons cannot self-cancel on repeated
    (src, dst, anchor) triples. A JVM projection of the fused stage: pages
    without anchors emit no rows, and the plan stays narrow."""
    return extract_pages(df, with_anchors=True).select(
        F.col("url").alias("src"), F.posexplode("anchors").alias("seq", "a")
    ).select("src", "seq", "a.dst", "a.anchor")
