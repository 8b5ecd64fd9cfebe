"""Physical-plan assertions — the 100-TB-scale guarantees as regression
tests. A correct result with the wrong plan (full scan for a 3-column
projection, sort-merge join of a broadcastable dim, per-row Python) is a
bug at scale even when sf0.01 output matches; these tests pin the plan
properties SURVEY.md §4 promises.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _registry():
    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml  # noqa: F401

    return b.REGISTRY


def _q(spark, name):
    fn, _ = _registry()[name]
    return fn(spark, SF_DIR)


def test_scan_pushdown_and_pruning(spark):
    # s1: filter reaches the parquet scan; only 3 columns read
    p = plan_of(_q(spark, "s1_scan_project"))
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]" in p
    assert "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>" in p


def test_broadcast_join_no_shuffle_of_fact(spark):
    # j1: dim side broadcast — the fact table must not shuffle for the join
    p = plan_of(_q(spark, "j1_broadcast_join_agg"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # exactly one Exchange: the post-aggregation one (partial agg upstream)
    assert p.count("+- Exchange") == 1
    assert "partial_count" in p


def test_semi_and_anti_joins_broadcast(spark):
    for name in ("j5_semi_join", "j6_anti_join"):
        p = plan_of(_q(spark, name))
        assert "BroadcastHashJoin" in p, name
        assert "SortMergeJoin" not in p, name


def test_agg_map_side_partial(spark):
    # a1: TPC-H Q1 shape must do partial aggregation before the exchange
    p = plan_of(_q(spark, "a1_pricing_summary"))
    assert "partial_sum" in p
    assert p.count("+- Exchange") == 1


def test_window_single_shuffle(spark):
    # w9: three window specs share one partitioning → exactly one exchange
    p = plan_of(_q(spark, "w9_sessionize"))
    assert p.count("+- Exchange") <= 2  # window exchange + final agg exchange


def test_curation_single_shuffle(spark):
    # pipe1: tokenize + quality gates + lang filter are one narrow pass;
    # the only exchange is the dedup-signature window partitioning
    p = plan_of(_q(spark, "pipe1_curation"))
    assert p.count("+- Exchange") == 1
    assert "CartesianProduct" not in p


def test_dup_clusters_no_cartesian(spark):
    # dd8: every CC round is a key-partitioned equi-join — never a
    # nested-loop/cartesian pair join at any iteration
    p = plan_of(_q(spark, "dd8_dup_clusters"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_topk_no_global_sort(spark):
    # o1: global top-k must be TakeOrderedAndProject, not Sort+Limit
    p = plan_of(_q(spark, "o1_topk_orders"))
    assert "TakeOrderedAndProject" in p


def test_extract_pipeline_is_narrow(spark, tmp_path):
    # extraction stage adds NO shuffle — partitioning preserved
    from greenocr_spark.fixtures import write_pages_parquet
    from greenocr_spark.operators.extract import extract_pages

    path = str(tmp_path / "p.parquet")
    write_pages_parquet(path, 50)
    pages = spark.read.parquet(path)
    p = plan_of(extract_pages(pages))
    assert "Exchange" not in p
    assert "MapInArrow" in p


def test_resume_filter_never_shuffles_pages(spark, tmp_path):
    # pending_pages: the done set (≤ n_parts part_ids) drops done rows on
    # the pages side itself — the 10^12-row side must not shuffle (no
    # Exchange, no SortMergeJoin) to skip done partitions
    from greenocr_spark.fixtures import write_pages_parquet
    from greenocr_spark.plans.job import pending_pages, run_extract_job

    path = str(tmp_path / "p.parquet")
    write_pages_parquet(path, 200)
    pages = spark.read.parquet(path)
    out = str(tmp_path / "out")
    run_extract_job(spark, pages, out, n_parts=4, n_salts=2)
    # lose one partition's manifest row so the resume filter has work
    man = spark.read.parquet(f"{out}/manifest")
    kept = [tuple(r) for r in man.where(F.col("part_id") != 0).collect()]
    spark.createDataFrame(kept, man.schema).write.mode("overwrite").parquet(f"{out}/manifest")
    pend = pending_pages(spark, pages, out, n_parts=4, n_salts=2)
    p = plan_of(pend)
    assert "Exchange" not in p and "SortMergeJoin" not in p
    assert "Filter" in p
    assert {r["part_id"] for r in pend.select("part_id").distinct().collect()} == {0}

    # an adaptive out_dir is read with the layout it recorded (its hot-host
    # map), not with uniform salting: complete, it has nothing pending, and
    # the recorded map is a literal, so still no Exchange
    adaptive = str(tmp_path / "adaptive")
    run_extract_job(spark, pages, adaptive, n_parts=16, n_salts=2, salting="adaptive")
    pend = pending_pages(spark, pages, adaptive, n_parts=16, n_salts=2)
    assert "Exchange" not in plan_of(pend)
    assert pend.count() == 0


def test_ann_brute_force_no_corpus_shuffle(spark):
    # ann1: query vector broadcast; corpus scanned once, TakeOrdered top-k
    p = plan_of(_q(spark, "ann1_cosine_topk"))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_no_python_row_udfs_anywhere(spark):
    # input_hint: vectorized stages only — BatchEvalPython (row-at-a-time
    # Python UDF) must never appear in any registered query plan
    reg = _registry()
    for name in ("ex1_extract_wrapped", "dd2_minhash_signature", "tx2_quality_score",
                 "ann1_cosine_topk", "mm1_binary_meta"):
        fn, _ = reg[name]
        p = plan_of(fn(spark, SF_DIR))
        assert "BatchEvalPython" not in p, name


def test_tx7_url2_narrow_no_exchange(spark):
    # pure array-lambda / regexp projections: zero shuffles
    for name in ("tx7_repetition_ratio", "url2_canonicalize"):
        p = plan_of(_q(spark, name))
        assert "Exchange" not in p, name


def test_pg1_dedup_no_allpairs(spark):
    # chunk dedup: groupBy md5 + semi-join + reassembly — never a cartesian
    p = plan_of(_q(spark, "pg1_paragraph_dedup"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_min" in p  # winner pick combines map-side


def test_pipe2_losers_broadcast(spark):
    # survivor anti-join: the clustered-doc side broadcasts, the corpus
    # never shuffles for it
    p = plan_of(_q(spark, "pipe2_neardup_removal"))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_tx8_counts_partial_agg(spark):
    # LM train pass: both count tables build with map-side partials
    p = plan_of(_q(spark, "tx8_bigram_lm_score"))
    assert "partial_count" in p
    assert "CartesianProduct" not in p


def test_dec1_eval_set_broadcasts(spark):
    # decontamination: the benchmark n-gram set broadcasts; the corpus side
    # never sort-merge-joins or nested-loops against it
    p = plan_of(_q(spark, "dec1_decontaminate"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "NestedLoop" not in p
    # single corpus scan: eval grams come from their own side table (the
    # production shape), so exactly one scan of documents appears
    assert p.count("documents.parquet") == 1
    assert "evalgrams" in p  # and the eval side reads the gram fixture


def test_scrub1_narrow_pruned(spark):
    # redaction is embarrassingly parallel: no exchange, and the scan reads
    # only the two touched columns
    p = plan_of(_q(spark, "scrub1_pii_redact"))
    assert "Exchange" not in p
    assert "struct<c_custkey:bigint,c_name:string>" in p


def test_chk1_chunking_narrow(spark):
    # sequence packing is a one-to-many projection: zero exchanges, and the
    # scan reads only (doc_id, text)
    p = plan_of(_q(spark, "chk1_token_chunks"))
    assert "Exchange" not in p
    assert "struct<doc_id:bigint,text:string>" in p


def test_samp2_weights_broadcast(spark):
    # mixture resample: the (source,lang) weight table broadcasts back onto
    # the corpus — the corpus never shuffles to apply its weights
    p = plan_of(_q(spark, "samp2_mixture_resample"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_tx9_df_partial_agg_no_allpairs(spark):
    # rare-term rank: df table builds with map-side partial counts; the
    # doc-word/df join is key-equi, never nested-loop
    p = plan_of(_q(spark, "tx9_rare_terms"))
    assert "partial_count" in p
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_chk2_no_global_corpus_window(spark):
    # two-phase prefix sum: block totals aggregate with map-side partials,
    # block offsets broadcast back; the corpus-side window partitions by
    # blk — nothing funnels the corpus through one partition
    p = plan_of(_q(spark, "chk2_pack_offsets"))
    assert "partial_sum" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    import re
    # every window over the corpus must carry a partition spec — match the
    # simple-mode rendering `Window [funcs], [partition], [order]`, where an
    # unpartitioned running sum shows as `Window [...], [doc_id... ASC...]`
    # (order spec directly after funcs, no partition list)
    ps = plan_of(_q(spark, "chk2_pack_offsets"), mode="simple")
    assert "Window [" in ps  # the guard must actually see window nodes
    assert not re.search(
        r"Window \[[^\]]*\], \[doc_id[^\]]*(ASC|DESC)", ps
    ), ps


def test_url3_blocklist_broadcasts(spark):
    # suffix-chain blocklist: both the blocklist and the hit-bounded
    # blocked-id set broadcast; no nested-loop LIKE scan, no SMJ
    p = plan_of(_q(spark, "url3_blocklist_filter"))
    assert p.count("BroadcastHashJoin") >= 2
    assert "NestedLoop" not in p and "SortMergeJoin" not in p


def test_quant1_no_corpus_shuffle(spark):
    # quant1: quantization is a narrow map; the 1-row quantized query is
    # broadcast and the top-k is TakeOrderedAndProject — the corpus must
    # never hit an Exchange, and nothing may fall back to row-Python.
    p = plan_of(_q(spark, "quant1_int8_topk"))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p


def test_shuf1_no_global_order_window(spark):
    # shuf1: the permutation must come from the two-phase block form.
    # The only global-order window allowed is the one over the 256-row
    # block-count table; every window touching the corpus must carry a
    # partition spec (same guard shape as chk2's pin).
    p = plan_of(_q(spark, "shuf1_train_order"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p
    import re
    ps = plan_of(_q(spark, "shuf1_train_order"), mode="simple")
    assert "Window [" in ps
    # an unpartitioned corpus window would order directly by the per-row
    # shuffle key: `Window [...], [skey ...]` with no partition list
    assert not re.search(r"Window \[[^\]]*\], \[skey[^\]]*(ASC|DESC)", ps), ps


def test_cdc1_hashes_before_join(spark):
    # cdc1: the full-outer snapshot join must carry (url, hash), never the
    # text column — md5 happens below the exchange — and the status rollup
    # aggregates with map-side partials.
    p = plan_of(_q(spark, "cdc1_snapshot_diff"))
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
    assert "partial_count" in p
    import re
    # no Exchange may ship the raw text column: read each Exchange node's
    # detail block and inspect its Input column list (the tree lines
    # "Exchange (4)" carry no columns, so matching them alone proves nothing)
    blocks = re.findall(
        r"\(\d+\) (?:Broadcast)?Exchange\n(?:[^\n]*\n)*?Input \[\d+\]: \[([^\]]*)\]",
        p,
    )
    assert blocks, p  # the guard must actually see Exchange detail blocks
    for cols in blocks:
        for c in cols.split(","):
            name = c.strip()
            assert not (name == "text" or name.startswith("text#")), p


def test_idx1_bounded_postings_one_exchange_family(spark):
    # inverted index: postings bounded BEFORE any collect_list; window +
    # count + bounded collect all ride the word-keyed partitioning; never
    # a nested-loop, and the final collect sees <= 5 rows per term.
    p = plan_of(_q(spark, "idx1_inverted_index"))
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    assert "BatchEvalPython" not in p


def test_tok1_narrow_pruned(spark):
    # pretokenizer: zero exchanges, scan reads only (doc_id, text)
    p = plan_of(_q(spark, "tok1_pretokenize"))
    assert "Exchange" not in p
    assert "struct<doc_id:bigint,text:string>" in p


def test_ann4_pruned_scan_no_corpus_shuffle(spark):
    # IVF-SQ8: centroid table + probe list + query vector all broadcast;
    # the corpus side is a semi-join-pruned scan — no SMJ, no nested-loop
    # against the corpus beyond the 1-row query cross join.
    p = plan_of(_q(spark, "ann4_ivf_sq8"))
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p


def test_gr1_triangle_joins_are_equi(spark):
    # triangle counting: both self-joins must be key-partitioned equi-joins
    # (hash or sort-merge), never a cartesian/nested-loop pair explosion
    p = plan_of(_q(spark, "gr1_doc_triangles"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_count" in p
    # degree-ordered orientation (Schank-Wagner): the wedge filter compares
    # dst-degree columns, bounding per-key join multiplicity on skewed
    # graphs — the refinement r03's comment promised
    assert "dy#" in p and "dz#" in p


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    """The too-big-to-broadcast pattern (e.g. a resume done-set beyond
    broadcast size): with runtime Bloom filters enabled, Spark builds a
    Bloom filter from the selective side and injects might_contain() on
    the fact side BELOW its shuffle, pruning rows before the exchange.
    This pins that the engine-level mechanism engages on our data/shapes,
    complementing plans/job.py's broadcast anti-join (the small-done-set
    path)."""
    # set on the SHARED session and restore afterwards — a leaked
    # autoBroadcastJoinThreshold=-1 would silently break every broadcast
    # plan pin in this module
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_totalprice") > 400000
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_totalprice"
        )
        p = plan_of(j)
        assert "might_contain" in p
        assert j.count() >= 0  # the filtered plan executes
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_prefix_sum_block_sizing_grows_with_corpus():
    # VERDICT r03 #1/#2: block granularity must scale with input rows —
    # fixed constants put corpus-proportional work in one task (shuf1) or
    # a corpus-proportional table through a broadcast (chk2).
    from greenocr_spark.battery_ml import (
        PREFIX_SUM_MAX_BLOCK_ROWS,
        prefix_sum_block_size,
        prefix_sum_hex_len,
    )

    # hex-prefix form (shuf1): block rows bounded by the per-task ceiling;
    # k monotone in N; enough blocks for parallelism at bench scale
    last = 0
    for n in [10**3, 10**6, 10**9, 10**12, 10**14]:
        k = prefix_sum_hex_len(n)
        assert k >= last
        last = k
        if k < 8:  # within the derivable range the bound is strict
            assert n / (16**k) <= PREFIX_SUM_MAX_BLOCK_ROWS
    assert prefix_sum_hex_len(5000) == 2  # 256 blocks even on tiny corpora
    assert prefix_sum_hex_len(10**12) == 5  # 1M blocks x ~1M rows
    # id-range form (chk2): block rows fixed at ~n/4096 until the ~1M cap,
    # then block count grows — neither side is ever corpus-proportional
    for n in [10**4, 10**8, 10**12, 10**14]:
        bs = prefix_sum_block_size(n)
        assert bs >= prefix_sum_block_size(max(1, n // 100))
        assert 256 <= bs <= PREFIX_SUM_MAX_BLOCK_ROWS
    assert prefix_sum_block_size(10**12) == PREFIX_SUM_MAX_BLOCK_ROWS
    assert 10**12 // prefix_sum_block_size(10**12) <= 1 << 22  # broadcastable


def test_shuf1_chk2_large_n_plan_drops_broadcast_and_widens_blocks(spark):
    # At the 10^12-doc target the derived plans must (a) key on a LONGER
    # hash prefix / bigger id blocks than the small-N plan and (b) leave
    # the offsets join UNHINTED — a forced broadcast of a ~10^6-row block
    # table is fine, but the hint must not survive to scales where the
    # table outgrows broadcast; AQE then picks broadcast vs shuffle from
    # measured size (at test-data stats it still picks broadcast — that IS
    # the AQE contract, so the pin is on the hint, not the physical join).
    from greenocr_spark.battery_ml import chk2_pack_offsets, shuf1_train_order

    big = plan_of(shuf1_train_order(spark, SF_DIR, _n_override=10**12))
    assert ", 1, 5)" in big  # k=5 prefix → 16^5 blocks at the 10^12 target
    # at 10^12 the ~1M-row block table still broadcast-hints (tens of MB —
    # cheaper than shuffling the corpus for the offsets join); at 10^15 the
    # block table outgrows broadcast and the hint must be gone
    big_log = plan_of(shuf1_train_order(spark, SF_DIR, _n_override=10**12), "extended")
    assert "ResolvedHint" in big_log and "_sblk" not in big_log
    huge_log = plan_of(shuf1_train_order(spark, SF_DIR, _n_override=10**15), "extended")
    # at 10^15 the block table outgrows one window task: the offsets
    # computation recurses into super-blocks (_sblk appears), the inner
    # dim-sized super-offsets join keeps its hint (exactly one hint in the
    # plan), and the corpus-level offsets join is UNHINTED
    assert "_sblk" in huge_log
    # exactly ONE hinted join in both regimes (extended mode prints it in
    # multiple plan sections, so compare counts): at 10^12 it is the
    # corpus-level offsets join, at 10^15 only the inner super-offsets
    # join — i.e. the corpus-level join lost its hint, nothing gained one
    assert huge_log.count("ResolvedHint") == big_log.count("ResolvedHint")
    assert "BroadcastHashJoin" in plan_of(_q(spark, "shuf1_train_order"))

    bigc_log = plan_of(chk2_pack_offsets(spark, SF_DIR, _n_override=10**12), "extended")
    assert "ResolvedHint" in bigc_log and "_sblk" not in bigc_log
    hugec_log = plan_of(chk2_pack_offsets(spark, SF_DIR, _n_override=10**15), "extended")
    assert "_sblk" in hugec_log
    assert hugec_log.count("ResolvedHint") == bigc_log.count("ResolvedHint")
    assert "BroadcastHashJoin" in plan_of(_q(spark, "chk2_pack_offsets"))
    # the corpus-side window still carries a partition spec in both regimes
    import re

    for q_ps in (
        plan_of(shuf1_train_order(spark, SF_DIR, _n_override=10**15), mode="simple"),
        plan_of(chk2_pack_offsets(spark, SF_DIR, _n_override=10**15), mode="simple"),
    ):
        assert not re.search(r"Window \[[^\]]*\], \[(skey|doc_id)[^\]]*(ASC|DESC)", q_ps)


def test_voc1_topk_is_take_ordered(spark):
    # vocab head: word-count groupBy with map-side partials, top-k via
    # TakeOrdered — never a global sort of the vocabulary table
    p = plan_of(_q(spark, "voc1_vocab_topk"))
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p


def test_km1_no_corpus_shuffle(spark):
    # k-means E-step: centroids collapse to one broadcast row; assignment
    # is a narrow array_min projection (corpus never multiplied by K,
    # never shuffled on vec_id); only exchanges are the K-group partial
    # aggregate (+ AQE's final coalesce), and nothing is row-Python
    p = plan_of(_q(spark, "km1_kmeans_estep"))
    assert "BroadcastNestedLoopJoin" in p  # 1-row centroid side
    assert "partial_count" in p or "partial_sum" in p
    assert "BatchEvalPython" not in p
    assert p.count("embeddings.parquet") == 2  # corpus scan + K=8 seed scan


def test_dd7_lsh_bits_scale_with_corpus(spark):
    # same constant-ceiling class as shuf1/chk2: fixed k makes LSH bucket
    # size corpus-proportional. k must grow as log2(N), stay at the
    # oracle's 4 for every shipped test scale, and the large-N plan must
    # key on more hyperplanes (wider bucket values) than the small-N plan.
    from greenocr_spark.battery_ml import dd7_lsh_bits, dd7_lsh_neardup

    assert dd7_lsh_bits(500) == 4 and dd7_lsh_bits(2000) == 4
    assert dd7_lsh_bits(8192) == 4  # floor holds through the test scales
    assert dd7_lsh_bits(10**6) == 11
    assert dd7_lsh_bits(10**9) == 21
    assert dd7_lsh_bits(10**12) == 24  # cap: selectivity beyond this buys
    last = 0                            # nothing; tables recover recall
    for n in [10**3, 10**5, 10**7, 10**9, 10**12]:
        k = dd7_lsh_bits(n)
        assert k >= last
        last = k
    # plan: the widest bucket bit present reveals the derived k (1 << (k-1))
    big = plan_of(dd7_lsh_neardup(spark, SF_DIR, _n_override=10**9))
    assert str(1 << 20) in big  # 21 bits → top term 2^20
    small = plan_of(dd7_lsh_neardup(spark, SF_DIR))
    assert str(1 << 20) not in small and "8" in small  # k=4 → top term 2^3


def test_exclusive_offsets_recursive_path_matches_flat(spark, monkeypatch):
    # execute (not just plan) the super-block recursion: with the window
    # threshold forced tiny, a 1000-block totals table recurses two levels
    # and must produce exactly the flat running sum's offsets
    import greenocr_spark.battery_ml as ml

    tot = spark.createDataFrame(
        [(i, (i * 7) % 13 + 1) for i in range(1000)], "blk long, n long"
    )
    flat = {
        r["blk"]: r["off"]
        for r in ml._exclusive_offsets(tot, "blk", "n", 1000).collect()
    }
    monkeypatch.setattr(ml, "PREFIX_SUM_MAX_WINDOW_ROWS", 50)
    monkeypatch.setattr(ml, "PREFIX_SUM_FANOUT", 10)
    rec = {
        r["blk"]: r["off"]
        for r in ml._exclusive_offsets(tot, "blk", "n", 1000).collect()
    }
    assert rec == flat
    # running-sum sanity against pure python
    import itertools
    ns = [(i * 7) % 13 + 1 for i in range(1000)]
    expect = dict(zip(range(1000), itertools.accumulate([0] + ns[:-1])))
    assert flat == expect


def test_ann5_two_stage_take_ordered(spark):
    # truncated-dim ANN: both stages are TakeOrdered (never a global
    # sort), the query is broadcast, nothing is row-Python
    p = plan_of(_q(spark, "ann5_truncated_refine"))
    assert p.count("TakeOrderedAndProject") >= 2
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p


def test_samp3_single_stratum_shuffle(spark):
    # per-stratum sample: exactly one exchange (the stratum window key);
    # rank short-circuits with a WindowGroupLimit below the window
    p = plan_of(_q(spark, "samp3_stratum_topk"))
    assert p.count("+- Exchange") == 1
    assert "WindowGroupLimit" in p


def test_sizing_scalars_come_from_footer_stats_not_count_jobs(spark, monkeypatch):
    # shuf1/chk2/dd7/gr1 need the corpus row count BEFORE planning (block /
    # LSH-bit sizing). That scalar must come from parquet footer metadata
    # (free, like Iceberg snapshot stats in production), NEVER a count()
    # scan job (VERDICT r04 task 5). Pin: planning each query with
    # DataFrame.count forbidden still works and derives the right constants.
    from pyspark.sql import DataFrame

    from greenocr_spark.battery import table_rowcount

    import duckdb

    for name in ("documents", "embeddings"):
        truth = duckdb.sql(
            f"select count(*) from '{SF_DIR}/{name}.parquet'"
        ).fetchone()[0]
        assert table_rowcount(spark, SF_DIR, name) == truth

    def _no_count(self, *a, **k):  # pragma: no cover - should never fire
        raise AssertionError("count() scan job on the stats path")

    monkeypatch.setattr(DataFrame, "count", _no_count)
    for qname in (
        "shuf1_train_order",
        "chk2_pack_offsets",
        "dd7_lsh_neardup",
        "gr1_doc_triangles",
    ):
        df = _q(spark, qname)
        assert df.schema is not None  # plan built without a count job


def test_c4f1_pure_jvm_narrow(spark):
    # the C4 line filter is one narrow JVM projection: no shuffle, no Python
    p = plan_of(_q(spark, "c4f1_line_filter"))
    assert "Exchange" not in p
    assert "EvalPython" not in p  # neither Batch nor Arrow: all array lambdas


def test_nfc1_arrow_batched_narrow(spark):
    # NFC has no JVM builtin: the documented pandas-UDF path must be the
    # Arrow-batched kind (never row-at-a-time), and still shuffle-free
    p = plan_of(_q(spark, "nfc1_unicode_nfc"))
    assert "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p
    assert "Exchange" not in p


def test_pipe3_funnel_narrow_no_python(spark):
    # the quality funnel composes tx2/tx7 kernels in one narrow projection
    p = plan_of(_q(spark, "pipe3_gopher_funnel"))
    assert "Exchange" not in p
    assert "EvalPython" not in p


def test_url1_single_exchange_shared_window(spark):
    # keep-latest-per-url: one scan, one url-keyed exchange, one sort —
    # rank-1 and snapshot count share the window spec (see the battery
    # docstring for why max_by/join-back shapes lose at 100 TB)
    p = plan_of(_q(spark, "url1_latest_snapshot"))
    assert p.count("+- Exchange") == 1
    assert "EvalPython" not in p
    assert "WindowGroupLimit" not in p  # count must see every snapshot


def test_anch2_shape_no_global_sorts(spark):
    # anchor-term aggregation: map-side-combined host counts, one
    # (host, term) shuffle, rank-1 window short-circuited by
    # WindowGroupLimit, broadcast joins between host-cardinality tables
    p = plan_of(_q(spark, "anch2_host_anchor_terms"))
    assert "WindowGroupLimit" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p  # anchor stage is Arrow-batched
