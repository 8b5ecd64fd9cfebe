"""Vectorized robots.txt rule-compilation stage: one robots.txt per HOST →
(host, rules) where rules is an array<struct<plen:int, allow:boolean,
prefix:string>> ready for pure-JVM longest-match decisions.

Same Arrow-batched mapInPandas shape as the link/meta stages. The input
is host-cardinality (one row per host), so at 10^12 pages this stage
parses ~10^7 rows — negligible — and the compiled rule table broadcasts;
the per-PAGE decision never leaves the JVM (see
battery_ml.rob1_robots_filter): filter the rule array by prefix match,
array_max the (plen, allow) struct (longest match wins, Allow wins a
length tie by struct ordering), default allow on no match.

The per-document logic is extractor/robots.py — deterministic pure
Python (RFC 9309 subset, limitations documented there).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from greenocr_spark.extractor.robots import parse_robots, rules_for_agent
from greenocr_spark.worker import trim_import_caches

RULE_TYPE = ArrayType(
    StructType(
        [
            StructField("plen", IntegerType()),
            StructField("allow", BooleanType()),
            StructField("prefix", StringType()),
        ]
    )
)


def compile_robots(df: DataFrame, agent: str, host_col: str = "host") -> DataFrame:
    """Input requires (host_col, robots_txt:string); output one row per
    host with the rule array governing `agent` (its own group else *)."""
    schema = StructType(
        [df.schema[host_col], StructField("rules", RULE_TYPE)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trim_import_caches()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rules = [
                [
                    (len(prefix), allow, prefix)
                    for allow, prefix in rules_for_agent(parse_robots(txt), agent)
                ]
                for txt in pdf["robots_txt"].tolist()
            ]
            yield pd.DataFrame({host_col: pdf[host_col].values, "rules": rules})

    return df.select(host_col, "robots_txt").mapInPandas(run, schema=schema)


def allowed_col(rules_col, path_col):
    """Pure-JVM longest-prefix-match decision Column over a compiled rule
    array: filter the rules to prefix matches of the path, array_max the
    (plen, allow) struct — longest match wins, Allow wins a length tie by
    struct ordering — and default to allowed on no match. A NULL rule
    array (no robots row for the host) is allow-all, like an empty one.
    Zero Python, zero shuffle; pair with a broadcast join of the
    host-cardinality rule table."""
    from pyspark.sql import functions as F

    rules_col = F.col(rules_col) if isinstance(rules_col, str) else rules_col
    rules_col = F.coalesce(rules_col, F.array().cast(RULE_TYPE))
    path_col = F.col(path_col) if isinstance(path_col, str) else path_col
    matches = F.filter(rules_col, lambda r: path_col.startswith(r["prefix"]))
    best = F.array_max(
        F.transform(
            matches,
            lambda r: F.struct(r["plen"].alias("plen"), r["allow"].alias("allow")),
        )
    )
    return F.when(F.size(matches) == 0, F.lit(True)).otherwise(best["allow"])
