"""Vectorized page-metadata stage: pages → (url, title, robots, noindex,
canonical). Same Arrow-batched narrow shape as operators/extract.py; the
per-document logic is extractor/meta.extract_meta.

Downstream shapes: `noindex` filters pages out of the corpus before any
content work (a narrow predicate); `canonical` drives rel=canonical
dedup — groupBy coalesce(canonical, url) keeping one page per canonical
target, one map-side-combined shuffle at any scale.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from greenocr_spark.extractor.meta import extract_meta
from greenocr_spark.worker import trim_import_caches

META_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("title", StringType()),
        StructField("robots", StringType()),
        StructField("noindex", BooleanType()),
        StructField("canonical", StringType()),
    ]
)


def extract_meta_pages(df: DataFrame) -> DataFrame:
    """Input requires (url:string, html:binary)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trim_import_caches()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            urls = pdf["url"].tolist()
            metas = [
                extract_meta(raw, base_url=u)
                for u, raw in zip(urls, pdf["html"].tolist())
            ]
            yield pd.DataFrame(
                {
                    "url": urls,
                    "title": [m["title"] for m in metas],
                    "robots": [m["robots"] for m in metas],
                    "noindex": [m["noindex"] for m in metas],
                    "canonical": [m["canonical"] for m in metas],
                }
            )

    return df.select("url", "html").mapInPandas(run, schema=META_SCHEMA)
