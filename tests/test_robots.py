"""robots.txt face (extractor/robots.py + operators/robots.py +
battery_ml.rob1_robots_filter): parser unit spec, REP group semantics,
and the broadcast/narrow plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from greenocr_spark.extractor.robots import (
    parse_robots,
    robots_allowed,
    rules_for_agent,
)


def test_parser_unit_spec():
    txt = (
        "# global rules\n"
        "User-Agent: *\n"
        "Disallow: /private   # trailing comment\n"
        "Allow: /private/ok\n"
        "Disallow:\n"  # empty = allow-all no-op, dropped
        "\n"
        "User-agent: GoodBot\n"
        "User-agent: OtherBot\n"  # consecutive UA lines share the group
        "Disallow: /only-good\n"
        "Crawl-delay: 10\n"  # unknown directive ignored
        "Sitemap: https://x.example/s.xml\n"
    )
    g = parse_robots(txt)
    assert g["*"] == [(False, "/private"), (True, "/private/ok")]
    assert g["goodbot"] == [(False, "/only-good")]
    assert g["otherbot"] == [(False, "/only-good")]
    # later group for the same agent MERGES (RFC 9309 §2.2.1)
    g2 = parse_robots("User-agent: a\nDisallow: /x\nUser-agent: a\nAllow: /y\n")
    assert g2["a"] == [(False, "/x"), (True, "/y")]
    # degenerate inputs never raise
    assert parse_robots(None) == {}
    assert parse_robots("") == {}
    assert parse_robots("Disallow: /orphaned-before-any-group\n") == {}


def test_group_selection_and_decision():
    g = parse_robots(
        "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"
        "User-agent: SpecificBot\nDisallow: /bot\n"
    )
    # specific group applies EXCLUSIVELY — no * fallback on top
    r_spec = rules_for_agent(g, "SPECIFICBOT")  # case-insensitive
    assert r_spec == [(False, "/bot")]
    assert robots_allowed(r_spec, "/private/secret") is True
    assert robots_allowed(r_spec, "/bot/page") is False
    r_star = rules_for_agent(g, "unlisted-bot")
    # longest match wins; Allow wins a length tie; no match -> allowed
    assert robots_allowed(r_star, "/private/secret") is False
    assert robots_allowed(r_star, "/private/ok/page") is True
    assert robots_allowed(r_star, "/elsewhere") is True
    assert robots_allowed([(False, "/a"), (True, "/a")], "/a/x") is True
    # consecutive UA lines form ONE group even across blank lines
    # (RFC 9309 §2.2.1): both agents share the rule that follows
    g3 = parse_robots("User-agent: quiet\n\nUser-agent: *\nDisallow: /\n")
    assert rules_for_agent(g3, "quiet") == [(False, "/")]
    # a trailing group with zero rules = allow-all, NOT * fallback
    g4 = parse_robots("User-agent: *\nDisallow: /\nUser-agent: quiet\n")
    assert rules_for_agent(g4, "quiet") == []
    assert robots_allowed(rules_for_agent(g4, "quiet"), "/anything") is True
    # a full User-Agent string selects its group by product token, the
    # leading [A-Za-z_-] run, case-insensitively (RFC 9309 §2.2.1)
    g5 = parse_robots(
        "User-agent: *\nDisallow: /\nUser-agent: greenocrbot\nDisallow: /bot\n"
    )
    assert rules_for_agent(g5, "GreenOCRBot/1.2 (+https://x)") == [(False, "/bot")]
    assert rules_for_agent(g5, "GreenOCRBot") == [(False, "/bot")]
    assert rules_for_agent(g5, "Other-Bot/2.0") == [(False, "/")]


def test_rob1_plan_broadcast_and_narrow_pages(spark):
    # the page side must never shuffle: robots table broadcasts, the
    # decision is array lambdas; the only Exchange allowed is on the
    # host-cardinality robots side (distinct over 20 rows)
    import contextlib
    import io

    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml  # noqa: F401

    fn, _ = b.REGISTRY["rob1_robots_filter"]
    df = fn(spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p  # parse is Arrow-batched
    # exchanges only below the broadcast (robots side): every Exchange in
    # the plan must feed the distinct/broadcast, never the page scan side
    assert p.count("+- Exchange") <= 2


def test_sitemap_parser_unit_spec():
    from greenocr_spark.extractor.sitemap import parse_sitemap

    xml = (
        '<?xml version="1.0"?><urlset>'
        "<url><loc> https://x.example/a?q=1&amp;r=2 </loc>"
        "<lastmod> 2025-02-03 </lastmod></url>"
        "<URL><LOC>https://x.example/b</LOC></URL>"  # mixed case
        "<url><lastmod>2025-01-01</lastmod></url>"  # no loc -> skipped
        "<url><loc></loc></url>"  # empty loc -> skipped
        "</urlset>"
        "<sitemapindex><sitemap><loc>https://x.example/more.xml</loc>"
        "</sitemap></sitemapindex>"
    )
    got = parse_sitemap(xml)
    assert got == [
        ("https://x.example/a?q=1&r=2", "2025-02-03", False),
        ("https://x.example/b", None, False),
        ("https://x.example/more.xml", None, True),
    ]
    assert parse_sitemap(None) == []
    assert parse_sitemap("") == []
    assert parse_sitemap("<urlset><url><loc>x") == []  # unclosed: no block


def test_pipe4_plan_broadcast_only(spark):
    # the frontier chain must never sort-merge or shuffle the url list:
    # rules and seen set broadcast, path extraction is narrow
    import contextlib
    import io

    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml  # noqa: F401

    fn, _ = b.REGISTRY["pipe4_crawl_frontier"]
    df = fn(spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p


def test_frontier_job_end_to_end(spark, tmp_path):
    # real harvested links + planted robots -> frontier with politeness,
    # seen-set exclusion, resume no-op, and params-drift guard
    from greenocr_spark.fixtures import write_pages_parquet
    from greenocr_spark.operators.extract import extract_pages
    from greenocr_spark.plans.frontier import run_frontier_job

    path = str(tmp_path / "p.parquet")
    write_pages_parquet(path, 120)
    pages = spark.read.parquet(path)
    extracted = extract_pages(pages, with_links=True)
    # every fixture outlink is same-host; disallow /l* (the link-farm
    # targets) on big.example.com only
    hosts = (
        extracted.select(F.explode("outlinks").alias("u"))
        .selectExpr("parse_url(u, 'HOST') AS host")
        .where("host IS NOT NULL")
        .distinct()
    )
    robots = hosts.withColumn(
        "robots_txt",
        F.when(
            F.col("host") == "big.example.com",
            F.lit("User-agent: *\nDisallow: /l\nAllow: /long-ok\n"),
        ).otherwise(F.lit("User-agent: *\n")),
    )
    out = str(tmp_path / "f")
    fr = run_frontier_job(spark, extracted, robots, out)
    rows = {(r["host"], r["url"]) for r in fr.collect()}
    assert rows, "frontier must not be empty"
    seen = {r["url"] for r in extracted.select("url").collect()}
    for host, url in rows:
        assert url not in seen  # seen-set exclusion
        if host == "big.example.com":
            p = url.split("big.example.com", 1)[1]
            assert not p.startswith("/l")  # politeness
    # the disallow actually bit: the raw candidates DID include /l urls
    raw = {
        r["u"]
        for r in extracted.select(F.explode("outlinks").alias("u")).collect()
    }
    assert any(
        u.startswith("https://big.example.com/l") for u in raw
    ), "fixture must plant link-farm urls on the hot host"
    # resume no-op returns the committed table
    fr2 = run_frontier_job(spark, extracted, robots, out)
    assert {(r["host"], r["url"]) for r in fr2.collect()} == rows
    # params drift after commit fails loudly
    import pytest as _pt

    with _pt.raises(ValueError, match="params drift"):
        run_frontier_job(spark, extracted, robots, out, agent="otherbot")
    # require_robots=True into a fresh dir only keeps robots-covered hosts
    fr3 = run_frontier_job(
        spark, extracted, robots, str(tmp_path / "f2"), require_robots=True
    )
    assert fr3.count() > 0


def test_frontier_job_empty_frontier(spark, tmp_path):
    # a fully-crawled corpus (every candidate already seen) must return an
    # EMPTY frame with the right schema, not crash on schema inference,
    # and the resume path must survive the committed-but-empty table
    from greenocr_spark.plans.frontier import run_frontier_job

    extracted = spark.createDataFrame(
        [("https://h.example/a", ["https://h.example/a"])],
        "url string, outlinks array<string>",
    )
    robots = spark.createDataFrame(
        [("h.example", "User-agent: *\n")], "host string, robots_txt string"
    )
    out = str(tmp_path / "f")
    fr = run_frontier_job(spark, extracted, robots, out)
    assert fr.count() == 0
    assert fr.columns == ["host", "url"]
    fr2 = run_frontier_job(spark, extracted, robots, out)  # resume path
    assert fr2.count() == 0


def test_allowed_col_null_rules_allow_all(spark):
    # a host with no robots row carries NULL rules: the documented default
    # is allow-all, the same as an empty rule array
    from greenocr_spark.operators.robots import RULE_TYPE, allowed_col

    df = spark.createDataFrame(
        [(None, "/a"), ([], "/a"), ([(2, False, "/a")], "/a/x"), ([(2, False, "/a")], "/b")],
        f"rules {RULE_TYPE.simpleString()}, path string",
    )
    got = [r[0] for r in df.select(allowed_col("rules", "path")).collect()]
    assert got == [True, True, False, True]


def test_frontier_disallow_root_blocks_bare_host(spark, tmp_path):
    # a bare-host url's robots path is "/", so `Disallow: /` blocks it (and
    # every other url of the host); a host with no robots row stays allowed
    from greenocr_spark.plans.frontier import run_frontier_job

    links = [
        "https://h.example",
        "https://h.example/",
        "https://h.example?q=1",
        "https://h.example/a",
        "https://free.example",
        "https://free.example/b",
    ]
    extracted = spark.createDataFrame(
        [("https://seen.example/", links)], "url string, outlinks array<string>"
    )
    robots = spark.createDataFrame(
        [("h.example", "User-agent: *\nDisallow: /\n")], "host string, robots_txt string"
    )
    fr = run_frontier_job(spark, extracted, robots, str(tmp_path / "f"))
    assert sorted(r["url"] for r in fr.collect()) == [
        "https://free.example",
        "https://free.example/b",
    ]


def test_robots_and_sitemap_fuzz_never_raise_and_deterministic():
    # adversarial text through both crawl-face parsers: never raise,
    # always deterministic, output shape always well-formed
    import random as _random

    from greenocr_spark.extractor.robots import (
        parse_robots,
        robots_allowed,
        rules_for_agent,
    )
    from greenocr_spark.extractor.sitemap import parse_sitemap

    rng = _random.Random(13)
    frags = [
        "User-agent:", "user-AGENT : *", "Disallow:", "Allow: /a",
        "Disallow: /b", "#c", ":", "::", "\n", "\r\n", " ", "\t",
        "User-agent: bot", "Sitemap: x", "junk line", "Disallow : ",
        "<url>", "</url>", "<loc>", "</loc>", "<lastmod>", "</lastmod>",
        "https://x.ex/p", "&amp;", "<sitemap>", "</sitemap>", "<urlset>",
    ]
    for _ in range(400):
        doc = "\n".join(rng.choice(frags) for _ in range(rng.randrange(0, 25)))
        g1, g2 = parse_robots(doc), parse_robots(doc)
        assert g1 == g2
        for agent in ("*", "bot", "missing"):
            rules = rules_for_agent(g1, agent)
            assert isinstance(rules, list)
            for allow, prefix in rules:
                assert isinstance(allow, bool) and prefix  # never empty
            assert robots_allowed(rules, "/b/x") in (True, False)
        s1, s2 = parse_sitemap(doc), parse_sitemap(doc)
        assert s1 == s2
        for loc, lastmod, is_index in s1:
            assert loc and isinstance(is_index, bool)
            assert lastmod is None or lastmod
