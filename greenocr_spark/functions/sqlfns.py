"""JVM-side (Catalyst-native) column expressions used across the engine.

Everything here compiles into whole-stage codegen — no Python boundary.
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F

from greenocr_spark.extractor.core import PDF_MAGIC


def host_expr(url_col) -> Column:
    """Extract the host from a url (F20) — feeds skew salting.

    try_parse_url, not parse_url: Spark 4's parse_url RAISES
    INVALID_URL on malformed input, which would fail the whole job on one
    bad crawl record. Unparseable urls yield NULL host and are treated as
    cold (hashed by the NULL host, never salted hot)."""
    return F.try_parse_url(
        F.col(url_col) if isinstance(url_col, str) else url_col, F.lit("HOST")
    )


def salt_expr(url_col, n_salts: int) -> Column:
    """Deterministic per-url salt in [0, n_salts) (F8 made deterministic —
    the reference's random 5-char filename prefix, ENHANCMENT24.py:80-81,
    replaced by a pure function of the row)."""
    return F.pmod(F.xxhash64(url_col), F.lit(n_salts))


def salted_part_id(url_col, n_parts: int, n_salts: int = 8) -> Column:
    """Partition key: hash of (host, salt(url)) mod n_parts.

    Host-level locality with explicit skew mitigation (north rule): a host
    carrying 30% of rows is spread over n_salts distinct partitions instead
    of melting one task — the width-bucket analog (X1, train.py:899-907)."""
    return F.pmod(
        F.xxhash64(host_expr(url_col), salt_expr(url_col, n_salts)),
        F.lit(n_parts),
    )


def hot_hosts(df, url_col: str, n_parts: int) -> dict:
    """The hot-host map of `df`: {host: n_salts_for_host} for every host
    carrying more than its share of rows (Scarlett-style skew handling).

    Budget rule: with budget = total/n_parts rows per ideal partition, any
    host whose count exceeds the budget is spread over ceil(count/budget)
    salts (capped at n_parts) — so every host's partitions converge to
    ~budget rows regardless of how skewed the host distribution is. A
    fixed salt count (the old top-host-only design) fails both ways: the
    30%-host still overfills its n_salts partitions, and a corpus with few
    distinct hosts leaves most partitions empty while each cold host melts
    one task.

    ONE action, no cache, one exchange: a partial-aggregated rollup(host)
    (#hosts << #rows) yields the per-host counts and the grand total
    together, ordered total first, then non-NULL hosts by count, limit
    n_parts + 1. At most n_parts - 1 hosts can exceed total / n_parts, so
    the top n_parts hold every hot host, and the driver never receives
    more than n_parts host rows however many hosts there are. No
    DataFrame is keyed here: the caller builds the part_id expression
    once, from the map (hot_salted_part_id)."""
    import math

    # one rollup: the host groups (g = 0) and the grand total (g = 1)
    # share one exchange, and the total is told apart by grouping_id, not
    # by its NULL key, so a NULL-host group cannot pass for it. NULL hosts
    # (unparseable urls) stay cold even over budget: a None key would break
    # sorted(hot.items()) and is invalid as a map literal key
    # (ADVICE r02). They hash by host alone — all-NULL-host skew is not
    # salvageable by salting anyway (no per-host identity to spread), and
    # in practice such rows are rejects headed for the error sink. So they
    # rank after every real host and drop after the limit (a filter before
    # it would be pushed below the aggregate).
    rows = (
        df.rollup(host_expr(url_col).alias("h"))
        .agg(F.count("*").alias("count"), F.grouping_id().alias("g"))
        .orderBy(F.desc("g"), F.col("h").isNull(), F.desc("count"))
        .limit(n_parts + 1)
        .collect()
    )
    # an empty input has no groups at all, not even the total
    total = next((r["count"] for r in rows if r["g"] == 1), 0)
    budget = max(total / n_parts, 1.0)
    return {
        r["h"]: min(n_parts, math.ceil(r["count"] / budget))
        for r in rows
        if r["h"] is not None and r["count"] > budget
    }


def adaptive_salted_part_id(
    df, url_col: str, n_parts: int, n_salts: int = 8
):
    """Skew-aware partition key: salt hot hosts PROPORTIONALLY to their
    size, keep the long tail host-local.

    Two phases, each a constant number of driver calls at any scale:
      1. stats: hot_hosts(df) — one action, at most n_parts + 1 rows to
         the driver (see there for the budget rule);
      2. assign: hot_salted_part_id folds the per-host salt count into
         the key through ONE map literal, whatever the map's size; cold
         hosts hash by host alone, preserving host locality
         (cache/dns/politeness affinity) that uniform salting destroys.

    Returns (df_with_part_id, hot) where hot is {host: n_salts_for_host}.
    `n_salts` is accepted for signature stability but the salt count is
    derived from the data. Uniform salting (salted_part_id) remains the
    default for unknown distributions. A job needs only the map (it keys
    the pages from its params record): it calls hot_hosts."""
    hot = hot_hosts(df, url_col, n_parts)
    return df.withColumn("part_id", hot_salted_part_id(url_col, hot, n_parts)), hot


def hot_salted_part_id(url_col: str, hot, n_parts: int) -> Column:
    """part_id for a KNOWN hot-host assignment: hot hosts get a per-url salt
    in [0, salts_for_host) folded in, cold hosts hash by host alone. Split
    out so a resumed job can reuse the hot map the first run recorded in
    its params record (part_id stability across runs must not depend on
    re-deriving hot hosts from a changed input — ADVICE r01).

    `hot` is {host: n_salts_for_host}: the map carries each host's salt
    count.

    Hot buckets are laid out ROUND-ROBIN, not hashed: bucket (host, salt)
    gets part_id = (offset_of_host + salt) % n_parts, with offsets the
    running sum of salt counts over the sorted hot map. Hashing each
    bucket independently put ~n_parts random keys into n_parts bins —
    birthday collisions stacked 3-4 budget-sized buckets onto one
    partition (observed 8x row skew at the 2M-page soak); the sequential
    layout gives every partition ⌈buckets/n_parts⌉ hot buckets at most,
    and stays deterministic across resume because the offsets derive from
    the persisted map itself.

    The lookup is one JSON string literal parsed as a
    map<host, [salts, offset]>: the optimizer's constant folding turns it
    into a map literal, so the plan parses nothing per row, and building
    the expression costs the same few JVM calls for 1 or 2,000 hot hosts,
    where a create_map of per-host literals costs ~16 calls per host
    (1.2 s at 2,000 hosts). A cold or NULL host looks up NULL."""
    host = host_expr(url_col)
    cold = F.pmod(F.xxhash64(host), F.lit(n_parts))
    if not hot:
        return cold
    table, offset = {}, 0
    for h, s in sorted(hot.items()):
        table[h] = [int(s), offset]
        offset += int(s)
    entry = F.from_json(F.lit(json.dumps(table)), "map<string,array<int>>")[host]
    salts, off = entry[0], entry[1]
    url = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.when(
        salts.isNotNull(),
        F.pmod(off + F.pmod(F.xxhash64(url), salts), F.lit(n_parts)),
    ).otherwise(cold)


def pdf_magic_expr(html_col) -> Column:
    """Router predicate: binary payload starts with PDF_MAGIC, as in
    core.PageBatch.add (the RealESRGAN raw-binary branch analog,
    ENHANCMENT24.py:93-107)."""
    col = F.col(html_col) if isinstance(html_col, str) else html_col
    return F.startswith(col, F.lit(PDF_MAGIC))
