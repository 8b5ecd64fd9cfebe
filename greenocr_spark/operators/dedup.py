"""Near-duplicate removal kernels: MinHash signatures over word
3-shingles, banded LSH candidate pairs, bounded-prefix edit-distance
verification and distributed connected components, composed by
_neardup_losers. The curation job (plans/curate.py) runs them; the
dd2/dd3/dd8/dd9/pipe2 battery entries value-check them against DuckDB
oracles built from the same constants.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from greenocr_spark.operators.text import _spark_words

P_MOD = 2147483647  # 2^31-1
# 8 permutations → 4 bands × 2 rows (b=4, r=2): the S-curve threshold
# (1/b)^(1/r) ≈ 0.5 Jaccard — a realistic near-dup operating point
MINHASH_AB = [
    (2971, 1013), (4111, 2707), (5737, 331), (7001, 977),
    (8191, 57), (9973, 1409), (11003, 2113), (12577, 761),
]

_N_BANDS, _ROWS_PER_BAND = 4, 2


def _minhash_signature(docs):
    """doc_id + minhash values over word-3-shingles (md5-int based), for
    any (doc_id, text) DataFrame — shared by the battery queries and the
    curation job (plans/curate.py)."""
    d = docs.select("doc_id", _spark_words().alias("w"))
    sh = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("w", i + 1),
                    F.element_at("w", i + 2),
                    F.element_at("w", i + 3),
                ),
            )
        ).alias("sh"),
    ).distinct()
    x = F.conv(F.substring(F.md5("sh"), 1, 15), 16, 10).cast("long") % P_MOD
    sh = sh.select("doc_id", x.alias("x"))
    aggs = [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % P_MOD).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_AB)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _band_pairs(sig):
    """LSH banded candidate pairs from a minhash-signature DataFrame —
    shared by dd3 and the curation job (plans/curate.py)."""
    band_keys = [
        F.md5(
            F.concat_ws(
                "-",
                *[F.col(f"mh{b * _ROWS_PER_BAND + r}").cast("string") for r in range(_ROWS_PER_BAND)],
            )
        )
        for b in range(_N_BANDS)
    ]
    bands = sig.select(
        "doc_id", F.posexplode(F.array(*band_keys))
    ).withColumnsRenamed({"pos": "band", "col": "bkey"})
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _connected_components(pairs, max_iter: int = 20):
    """Connected components over an undirected pair list (doc_a, doc_b) →
    (doc_id, cluster_id) with cluster_id = min member id.

    Hash-to-min with pointer jumping: each round a node takes the min label
    among itself and its neighbors, then follows its label's label (path
    halving), so convergence is O(log diameter) rounds — not O(diameter)
    like plain label propagation. Each round is two key-partitioned
    joins + one groupBy; no driver-side graph, so it runs at any scale.
    localCheckpoint truncates the lineage each round (an iterative plan
    otherwise grows a plan tree Catalyst re-analyzes every action)."""
    e = pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d")).union(
        pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("d"))
    )
    e = e.localCheckpoint(eager=True)
    # init: label(x) = min(x, min neighbor)
    lab = e.groupBy("s").agg(F.least(F.min("d"), F.col("s")).alias("lab")).select(
        F.col("s").alias("node"), "lab"
    )
    converged = False
    for _ in range(max_iter):
        # neighbor-min: for each edge (s,d), s sees label(d)
        nb = (
            e.join(lab.withColumnRenamed("node", "d"), "d")
            .groupBy("s")
            .agg(F.min("lab").alias("nlab"))
            .withColumnRenamed("s", "node")
        )
        stepped = (
            lab.join(nb, "node", "left")
            .select("node", F.least("lab", F.coalesce("nlab", "lab")).alias("lab"))
        )
        # pointer jump: label(x) := min(label(x), label(label(x)))
        jumped = (
            stepped.alias("x")
            .join(
                stepped.select(F.col("node").alias("lab"), F.col("lab").alias("ll")).alias("y"),
                "lab",
                "left",
            )
            .select("node", F.least("lab", F.coalesce("ll", "lab")).alias("lab"))
            .localCheckpoint(eager=True)
        )
        changed = (
            jumped.alias("n")
            .join(lab.alias("o"), "node")
            .filter(F.col("n.lab") != F.col("o.lab"))
            .limit(1)
            .count()
        )
        lab = jumped
        if changed == 0:
            converged = True
            break
    if not converged:
        # A silently-truncated result would hand back WRONG cluster ids with
        # no signal (ADVICE r02). Pointer jumping converges in O(log
        # diameter), so hitting this bound means the input graph (or
        # max_iter) is pathological — fail loudly instead.
        raise RuntimeError(
            f"connected components did not converge within {max_iter} "
            "pointer-jumping rounds; raise max_iter (graph diameter > "
            f"2^{max_iter}) or check the pair input for corruption"
        )
    return lab.select(F.col("node").alias("doc_id"), F.col("lab").alias("cluster_id"))


# Candidate verification bound (the dd9 shape): LSH candidates are checked
# with edit distance over a bounded text prefix before any doc is dropped.
# 200 chars / distance <= 40 separates cleanly: true near-dups differ by a
# few edits in the prefix (or not at all), random false-positive collisions
# differ by ~the whole prefix.
_NEARDUP_VERIFY_PREFIX = 200
_NEARDUP_MAX_EDITDIST = 40


def _verified_pairs(pairs, docs):
    """Drop LSH candidate pairs that fail the bounded-prefix edit-distance
    check (levenshtein over the first _NEARDUP_VERIFY_PREFIX chars >
    _NEARDUP_MAX_EDITDIST).

    Clustering UNVERIFIED candidates is wrong at scale: band-collision false
    positives arrive at a roughly corpus-quadratic rate, so past ~10^5 docs
    the candidate graph percolates into giant random components — measured
    on the 2M-page pipeline soak: 145k candidate pairs over 109k docs formed
    a 13,933-doc component, i.e. ~14k NON-duplicate docs would be dropped as
    "losers", and connected components needed 25 rounds to cross it.
    Verification breaks the random edges (a false pair's prefixes disagree
    almost everywhere), leaving tight true-dup clusters that converge in a
    few rounds. The joins ship only (doc_id, 200-char prefix); Spark's
    thresholded levenshtein early-exits above the bound."""
    pre = docs.select(
        "doc_id", F.substring("text", 1, _NEARDUP_VERIFY_PREFIX).alias("pre")
    )
    return (
        pairs.join(
            pre.select(F.col("doc_id").alias("doc_a"), F.col("pre").alias("pre_a")),
            "doc_a",
        )
        .join(
            pre.select(F.col("doc_id").alias("doc_b"), F.col("pre").alias("pre_b")),
            "doc_b",
        )
        .filter(
            F.levenshtein("pre_a", "pre_b", _NEARDUP_MAX_EDITDIST) != F.lit(-1)
        )
        .select("doc_a", "doc_b")
    )


def _neardup_losers(docs):
    """doc_ids to DROP under near-dup removal (every clustered doc except
    its cluster's min member) for any (doc_id, text) DataFrame — shared by
    pipe2 and the curation job (plans/curate.py). Composes all three dedup
    primitives: signatures (dd2) → banded candidates (dd3) → edit-distance
    verification (dd9) → connected components (dd8)."""
    sig = _minhash_signature(docs)
    pairs = _verified_pairs(_band_pairs(sig), docs)
    clusters = _connected_components(pairs)
    return clusters.filter(F.col("cluster_id") != F.col("doc_id")).select("doc_id")
