"""Training-shard export job: chunk → shuffle → shard over a curated
(doc_id, text) corpus — the dataset-builder step that follows curation
(plans/curate.py) and precedes training.

Pipeline (fully deterministic, seed-parameterized):

1. **chunk** — fixed seq_len token chunks with stable (doc_id, chunk_idx)
   addresses (the chk1 kernel shape): narrow one-to-many projection, the
   word array materialized once per row, zero shuffles.
2. **shuffle** — every chunk gets a reproducible global position in a
   seeded pseudorandom permutation (the shuf1 two-phase block-ranking
   shape, keyed by md5(doc_id:chunk_idx:seed)): the key's 2-hex-char
   prefix buckets rows into 256 uniform blocks, per-block counts get
   block-start offsets from a window over the 256-row block table only,
   and blocks rank locally in parallel — no global-order window ever
   sees the corpus.
3. **shard** — shard_id = floor(pos / rows_per_shard): EXACT integer
   arithmetic, deliberately not a sampling-based range partitioner, so
   shard membership is identical run-over-run; one repartition on
   shard_id + sortWithinPartitions(pos) + partitionBy(shard_id) write
   gives exactly one file per shard, each internally in training order.
4. **manifest** — per-shard (n_rows, min_pos, max_pos, n_tokens) rows,
   one aggregate over the written shards collected to the driver
   (≤ n_shards rows) and appended as one parquet file
   (sources/pages.append_parquet_file). That file is the export's
   commit. The params (seq_len/rows_per_shard/seed) are recorded in
   out_dir/_params.json (sources/pages.check_params), and a rerun over a
   committed manifest with different params fails loudly instead of
   silently mixing layouts (ADVICE r02).

Resume: with resume=True (default) a committed manifest whose params
match, and whose shard dirs are all on disk, is returned as-is: the
export is a no-op, read on the driver with no Spark job. The job is
end-to-end deterministic, so a forced rerun reproduces identical shard
contents (pinned by tests/test_export.py).

Scale shape at 10^12 docs: two key-partitioned shuffles total (the
256-block ranking exchange and the shard_id exchange); rows_per_shard
sizes output files independently of executor count, and no stage ever
funnels the corpus through one partition.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from greenocr_spark.operators.text import _spark_words
from greenocr_spark.sources.pages import (
    append_parquet_file, check_params, delete_path, glob_paths, read_parquet_rows,
    write_params,
)

EXPORT_MANIFEST_DDL = "shard_id long, n_rows long, min_pos long, max_pos long, n_tokens long"


def chunk_corpus(docs, seq_len: int):
    """Shared sequence-packing kernel (chk1 + plans/export.py): fixed-size
    token chunks with stable (doc_id, chunk_idx) addresses. The word array
    is materialized ONCE per row; explode(sequence(...)) fans out to chunk
    starts and slice() reads the shared array — a narrow one-to-many
    projection, zero shuffles, embarrassingly parallel at 10^12 docs.
    Empty tokens are filtered from the word array itself (split of an
    empty/whitespace-only string yields [''] or ['','']; a trim-based
    prefilter misses tab/newline-only docs), so whitespace-only documents
    produce zero chunks and no ghost tokens, whatever the whitespace."""
    ws_clean = F.filter(_spark_words(), lambda x: x != "")
    d = (
        docs.select("doc_id", ws_clean.alias("ws"))
        .filter(F.size("ws") > 0)
        .withColumn(
            "n_chunks", F.ceil(F.size("ws") / F.lit(float(seq_len))).cast("int")
        )
    )
    g = F.col("g")
    return (
        d.select(
            "doc_id",
            "ws",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("g"),
        )
        .select(
            "doc_id",
            g.cast("int").alias("chunk_idx"),
            F.array_join(F.slice("ws", g * seq_len + 1, seq_len), " ").alias(
                "chunk_text"
            ),
            F.least(F.lit(seq_len), F.size("ws") - g * seq_len)
            .cast("int")
            .alias("n_tokens"),
        )
    )


def shuffle_positions(chunks: DataFrame, seed: int) -> DataFrame:
    """Seeded deterministic global permutation over chunks (shuf1 shape)."""
    key = F.md5(
        F.concat_ws(
            ":",
            F.col("doc_id").cast("string"),
            F.col("chunk_idx").cast("string"),
            F.lit(str(seed)),
        )
    )
    c = chunks.withColumn("skey", key).withColumn(
        "blk", F.substring("skey", 1, 2)
    )
    blk_n = c.groupBy("blk").agg(F.count(F.lit(1)).alias("n"))
    w_blk = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = blk_n.select(
        "blk", F.coalesce(F.sum("n").over(w_blk), F.lit(0)).alias("off")
    )
    w_loc = Window.partitionBy("blk").orderBy("skey", "doc_id", "chunk_idx")
    return (
        c.join(F.broadcast(offsets), "blk")
        .withColumn(
            "pos",
            (F.col("off") + F.row_number().over(w_loc) - 1).cast("long"),
        )
        .drop("skey", "blk", "off")
    )


def _shards_match_manifest(spark: SparkSession, out_dir: str, manifest: list) -> bool:
    """True iff every shard_id the manifest describes has its partition dir
    under out_dir/shards (partial deletions → False → recompute)."""
    # skip unparsable partition dirs (shard_id=__HIVE_DEFAULT_PARTITION__)
    # instead of crashing resume on ValueError (ADVICE r04)
    ids = (
        p.rsplit("=", 1)[1]
        for p in glob_paths(spark, os.path.join(out_dir, "shards", "shard_id=*"))
    )
    on_disk = {int(i) for i in ids if i.isdigit()}
    return {r["shard_id"] for r in manifest} <= on_disk


def read_export_manifest(spark: SparkSession, out_dir: str) -> list[dict]:
    """The committed per-shard rows (EXPORT_MANIFEST_DDL); [] if none."""
    return read_parquet_rows(spark, os.path.join(out_dir, "manifest"), EXPORT_MANIFEST_DDL)


def run_export_job(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    seq_len: int = 256,
    rows_per_shard: int = 100_000,
    seed: int = 42,
    resume: bool = True,
) -> dict:
    """Export docs as shuffled training shards; returns summary stats."""
    params = {
        "seq_len": int(seq_len),
        "rows_per_shard": int(rows_per_shard),
        "seed": int(seed),
    }
    manifest_dir = os.path.join(out_dir, "manifest")
    # the manifest's rows are the durable commit: the driver writes them
    # last, as one file (a manifest Spark wrote shows its part file only
    # once that write committed). Without rows no run produced anything a
    # resume could consume (the shard write is a static overwrite), so new
    # params are adopted; with them, a params drift would mix layouts,
    # forced rerun or not
    manifest = read_export_manifest(spark, out_dir)
    if check_params(spark, out_dir, params, bool(manifest)) is None:
        write_params(spark, out_dir, params)
    # the manifest alone isn't proof the shards survived: verify every
    # manifest shard_id still has its partition dir on disk before
    # blessing the export as a no-op resume (ADVICE r03). The listing is
    # n_shards-bounded — no shard data is read. On mismatch fall through
    # to a full recompute (which invalidates this manifest first).
    if resume and manifest and _shards_match_manifest(spark, out_dir, manifest):
        return _stats(manifest, params, resumed=True)

    chunks = chunk_corpus(docs, seq_len)
    # guard on CHUNKS, not docs: a corpus of only whitespace docs would pass
    # a docs-level check, write zero shard files, and crash unreadably at
    # manifest build — after the static overwrite already wiped prior shards
    if chunks.isEmpty():
        raise ValueError(
            "export input yields no chunks — nothing to shard (wrong "
            "--input path, empty corpus, or every document is whitespace)"
        )
    # close the stale-manifest window BEFORE touching shards: if this run
    # dies between the shard overwrite and the manifest write, a resume
    # must see "no committed manifest" rather than the previous run's
    # manifest blessing shards it no longer describes
    delete_path(spark, manifest_dir)
    shuffled = shuffle_positions(chunks, seed)
    sharded = shuffled.withColumn(
        "shard_id", F.floor(F.col("pos") / F.lit(rows_per_shard)).cast("long")
    )
    # one task per shard → exactly one file per shard, sorted by pos inside.
    # shard_id leads the sort: the partitioned write sorts by shard_id
    # itself, and the optimizer drops a pos-only sort that order does not
    # extend.
    # STATIC overwrite: a forced rerun over a smaller input must remove the
    # old run's higher-numbered shard partitions — dynamic mode would leave
    # them on disk and the read-back manifest would silently bless a mix of
    # two corpora.
    (
        sharded.repartition("shard_id")
        .sortWithinPartitions("shard_id", "pos")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .option("partitionOverwriteMode", "static")
        .parquet(os.path.join(out_dir, "shards"))
    )
    shards = spark.read.parquet(os.path.join(out_dir, "shards"))
    manifest = sorted(
        shards.groupBy("shard_id").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("pos").alias("min_pos"),
            F.max("pos").alias("max_pos"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        ).collect()
    )
    append_parquet_file(spark, manifest_dir, manifest, EXPORT_MANIFEST_DDL)
    return _stats(manifest, params, resumed=False)


def _stats(manifest: list, params: dict, resumed: bool) -> dict:
    """Summary stats of the manifest rows (no scan of the shards)."""
    return {
        "resumed": resumed,
        "n_shards": len(manifest),
        "n_chunks": sum(r["n_rows"] for r in manifest),
        "n_tokens": sum(r["n_tokens"] for r in manifest),
        **params,
    }
