"""The vectorized extraction stage: DataFrame → DataFrame via mapInPandas.

This is UD1+UD3+UD5+UD6 of SURVEY.md §2.9 fused into one Arrow-batched
stage (one JVM↔Python boundary crossing per batch, never per row). The
per-document math is greenocr_spark.extractor.core — the byte-identity
spec — called unmodified, so Spark output ≡ reference extractor output.

The stage can also count the job's manifest sums where it runs (PartTally):
the job then needs no second pass over what it wrote.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark import TaskContext
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from greenocr_spark.extractor.core import DEFAULT_CONFIG, ExtractorConfig, extract_page
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
    cfg: ExtractorConfig = DEFAULT_CONFIG,
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
    keep = ["url", "html", *passthrough]
    if with_links or with_anchors:
        from greenocr_spark.extractor.links import extract_link_faces, extract_outlinks

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trim_import_caches()
        sums: dict = {}
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            out = {
                "url": pdf["url"].tolist(),
                "text": [None] * n,
                "spans": [None] * n,
                "n_blocks": [0] * n,
                "n_content": [0] * n,
                "n_boilerplate": [0] * n,
                "bytes_in": [0] * n,
                "bytes_out": [0] * n,
                "kind": [""] * n,
            }
            if with_links:
                out["outlinks"] = [None] * n
                out["n_links"] = [0] * n
            if with_anchors:
                out["anchors"] = [None] * n
                out["n_anchors"] = [0] * n
            for i, raw in enumerate(pdf["html"].tolist()):
                # markup: the decoded page, which the link faces read too
                # (None for PDF and empty pages, which have no links)
                r, markup = extract_page(raw, cfg)
                out["text"][i] = r["text"]
                # core emits spans as (block_idx, start, end, cls) tuples;
                # Arrow accepts tuples positionally for struct arrays, so
                # they pass through with zero per-span re-boxing
                out["spans"][i] = r["spans"]
                out["n_blocks"][i] = r["n_blocks"]
                out["n_content"][i] = r["n_content"]
                out["n_boilerplate"][i] = r["n_boilerplate"]
                out["bytes_in"][i] = len(raw) if raw is not None else 0
                out["bytes_out"][i] = len(r["text"].encode("utf-8"))
                out["kind"][i] = r["kind"]
                if with_anchors:
                    # (dst, anchor) tuples pass positionally to the Arrow
                    # struct array, same zero-re-boxing path as spans
                    links, anchors = extract_link_faces(markup, base_url=out["url"][i])
                    out["anchors"][i] = anchors
                    out["n_anchors"][i] = len(anchors)
                elif with_links:
                    links = extract_outlinks(markup, base_url=out["url"][i])
                if with_links:
                    out["outlinks"][i] = links
                    out["n_links"][i] = len(links)
            if tally is not None:
                counts = zip(
                    pdf["part_id"].tolist(), out["n_content"], out["n_boilerplate"],
                    out["bytes_in"], out["bytes_out"],
                )
                for part_id, n_content, n_boilerplate, b_in, b_out in counts:
                    row = sums.setdefault(part_id, [0, 0, 0, 0, 0])
                    row[0] += 1
                    row[1] += n_content
                    row[2] += n_boilerplate
                    row[3] += b_in
                    row[4] += b_out
            res = pd.DataFrame(out)
            for name in passthrough:
                res[name] = pdf[name].values
            yield res
        if tally is not None:
            tally.add(({TaskContext.get().partitionId()}, sums))

    return df.select(*keep).mapInPandas(run, schema=schema)


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
