"""Outlink and anchor extraction (extractor/links.py + the link faces of
operators/extract.py): unit spec, Spark≡pure-Python string identity, and
the host-graph shape."""

from __future__ import annotations

import gc
import hashlib
import random
import re
import statistics
import time
from html import unescape
from urllib.parse import urljoin

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from greenocr_spark.extractor.core import decode_bytes
from greenocr_spark.extractor.links import extract_outlinks
from greenocr_spark.fixtures import make_pages

GOLDEN_OUTLINK_XOR = 286616767658516744  # frozen with ex7's oracle literal
GOLDEN_N = 1500


def test_outlink_unit_spec():
    html = (
        b"<html><body>"
        b'<a href="https://ex.org/a">x</a>'
        b"<a href='/rooted'>x</a>"
        b"<a href=bare>x</a>"
        b'<A HREF="//proto.rel/p">x</A>'
        b'<a href="../up">x</a>'
        b'<a href="#frag">x</a>'
        b'<a href="javascript:void(0)">x</a>'
        b'<a href="mailto:a@b.c">x</a>'
        b'<a href="?q=1&amp;r=2">x</a>'
        b'<a href="https://ex.org/a">dup</a>'
        b"<a name=anchor>no href</a>"
        b"</body></html>"
    )
    got = extract_outlinks(html, base_url="https://host.example.com/dir/page")
    assert got == [
        "https://ex.org/a",
        "https://host.example.com/rooted",
        "https://host.example.com/dir/bare",
        "https://proto.rel/p",
        "https://host.example.com/up",
        "https://host.example.com/dir/page?q=1&r=2",
    ]
    # no base_url: only absolute links survive (protocol-relative included
    # cannot resolve without a base and drops)
    assert extract_outlinks(html) == ["https://ex.org/a"]
    # PDFs and empty payloads have no markup links
    assert extract_outlinks(b"%PDF-1.4 whatever") == []
    assert extract_outlinks(b"") == []
    assert extract_outlinks(None) == []


def test_outlink_golden_frozen():
    # the pure-Python path over the fixture corpus must reproduce the
    # literal frozen in ex7's oracle — same pattern as the ex4 text hash
    acc, n = 0, 0
    for p in make_pages(GOLDEN_N, seed=42):
        links = extract_outlinks(p["html"], base_url=p["url"])
        canon = "\x1f".join([p["url"], ";".join(links), str(len(links))])
        acc ^= int(hashlib.sha256(canon.encode("utf-8")).hexdigest()[:15], 16)
        n += 1
    assert (acc, n) == (GOLDEN_OUTLINK_XOR, GOLDEN_N)


def _link_rows(pages):
    from greenocr_spark.operators.extract import extract_pages

    return extract_pages(pages, with_links=True).select("url", "outlinks", "n_links")


def test_spark_links_match_python(spark, tmp_path):
    from greenocr_spark.fixtures import write_pages_parquet

    path = str(tmp_path / "p.parquet")
    write_pages_parquet(path, 300)
    got = {
        r["url"]: (list(r["outlinks"]), r["n_links"])
        for r in _link_rows(spark.read.parquet(path)).collect()
    }
    pages = make_pages(300, seed=42)
    assert len(got) == 300
    for p in pages:
        want = extract_outlinks(p["html"], base_url=p["url"])
        assert got[p["url"]] == (want, len(want)), p["url"]


def test_links_stage_is_narrow(spark, tmp_path):
    from greenocr_spark.fixtures import write_pages_parquet

    path = str(tmp_path / "p.parquet")
    write_pages_parquet(path, 50)
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _link_rows(spark.read.parquet(path)).explain("formatted")
    p = buf.getvalue()
    assert "Exchange" not in p
    assert "MapInArrow" in p


def test_host_graph_values(spark):
    import greenocr_spark.battery as b
    import greenocr_spark.battery_ml  # noqa: F401

    fn, _ = b.REGISTRY["lnk1_host_graph"]
    rows = fn(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    # fixture links are site-relative → after urljoin every edge is
    # intra-host, and every host linking out links to itself
    for r in rows:
        assert r["src_host"] == r["dst_host"], r
    # the Zipf-hot host carries the most edges
    top = max(rows, key=lambda r: r["n_edges"])
    assert top["src_host"] == "big.example.com"


def test_outlink_fuzz_never_raises_and_deterministic():
    # crawl bytes are adversarial: random binary, truncated tags, nested
    # quotes — the harvester must never raise, must be deterministic, and
    # must only ever emit http(s) urls
    import random

    rng = random.Random(7)
    alphabet = b"<>ahref=\"'/ :#&;x\x00\xff\xc3\xa4%PDF-jmailto"
    for trial in range(200):
        raw = bytes(rng.choice(alphabet) for _ in range(rng.randrange(0, 400)))
        a = extract_outlinks(raw, base_url="https://h.example.com/p")
        b = extract_outlinks(raw, base_url="https://h.example.com/p")
        assert a == b
        assert all(u.lower().startswith(("http://", "https://")) for u in a)


def test_fused_extract_with_links_matches_both_faces(spark, tmp_path):
    # extract_pages(with_links=True) must equal the text face of the
    # default stage AND the pure-Python outlink spec, row for row
    from greenocr_spark.fixtures import write_pages_parquet
    from greenocr_spark.operators.extract import extract_pages

    path = str(tmp_path / "p.parquet")
    write_pages_parquet(path, 200)
    pages = spark.read.parquet(path)
    fused = {
        r["url"]: (r["text"], list(r["outlinks"]), r["n_links"])
        for r in extract_pages(pages, with_links=True).collect()
    }
    text_only = {r["url"]: r["text"] for r in extract_pages(pages).collect()}
    assert len(fused) == 200
    for p in make_pages(200, seed=42):
        text, links, nl = fused[p["url"]]
        assert text == text_only[p["url"]]
        want = extract_outlinks(p["html"], base_url=p["url"])
        assert (links, nl) == (want, len(want))
    # and the fused stage is still narrow
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        extract_pages(pages, with_links=True).explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_extract_job_with_links_and_schema_guard(spark, tmp_path):
    from greenocr_spark.fixtures import write_pages_parquet
    from greenocr_spark.plans.job import run_extract_job

    path = str(tmp_path / "p.parquet")
    write_pages_parquet(path, 300)
    pages = spark.read.parquet(path)
    out = str(tmp_path / "out")
    res = run_extract_job(spark, pages, out, n_parts=8, with_links=True)
    assert "outlinks" in res.columns and "n_links" in res.columns
    got = {r["url"]: list(r["outlinks"]) for r in res.collect()}
    assert len(got) == 300
    # spot: link face matches the pure-Python spec through the job path
    for p in make_pages(5, seed=42):
        assert got[p["url"]] == extract_outlinks(p["html"], base_url=p["url"])
    # resume with the SAME flag: no-op, schema stable
    res2 = run_extract_job(spark, pages, out, n_parts=8, with_links=True)
    assert res2.count() == 300
    # resuming with a DIFFERENT flag must fail loudly, not mix schemas
    import pytest as _pt

    with _pt.raises(ValueError, match="with_links"):
        run_extract_job(spark, pages, out, n_parts=8, with_links=False)


def test_link_and_meta_stages_run_under_streaming(spark, tmp_path):
    # the graph/metadata faces are pure DataFrame→DataFrame stages, so the
    # batch pipeline IS the streaming pipeline (same contract st8 pins for
    # text): stream_warc → link rows/extract_meta_pages, availableNow
    # drain, output equal to the batch path over the same segments
    import tempfile

    from greenocr_spark.operators.meta import extract_meta_pages
    from greenocr_spark.sources.warc import read_warc, stream_warc, write_warc_dir
    from greenocr_spark.streaming.face import run_available_now

    pages = make_pages(60, seed=42)
    d = str(tmp_path / "warc")
    write_warc_dir(pages, d, n_segments=4)

    batch_links = {
        r["url"]: list(r["outlinks"])
        for r in _link_rows(read_warc(spark, d).select("url", "html")).collect()
    }
    stream = _link_rows(stream_warc(spark, d).select("url", "html"))
    qh = run_available_now(
        stream, "lnk_stream_test", tempfile.mkdtemp(prefix="lnk_ckpt_")
    )
    qh.awaitTermination()
    got = {
        r["url"]: list(r["outlinks"])
        for r in spark.sql("SELECT * FROM lnk_stream_test").collect()
    }
    assert got == batch_links and len(got) == 60

    meta_stream = extract_meta_pages(stream_warc(spark, d).select("url", "html"))
    run_available_now(
        meta_stream, "meta_stream_test", tempfile.mkdtemp(prefix="meta_ckpt_")
    ).awaitTermination()
    got_m = {
        r["url"]: r["title"]
        for r in spark.sql("SELECT * FROM meta_stream_test").collect()
    }
    batch_m = {
        r["url"]: r["title"]
        for r in extract_meta_pages(
            read_warc(spark, d).select("url", "html")
        ).collect()
    }
    assert got_m == batch_m and len(got_m) == 60


def test_lnk1_golden_rows_provenance():
    # the VALUES oracle's rows recomputed in pure Python (extract_outlinks
    # + urlsplit host parse) — the frozen literal is independent of Spark
    from urllib.parse import urlsplit

    from greenocr_spark.battery_ml import _LNK1_GOLDEN_ROWS

    counts: dict = {}
    for p in make_pages(400, seed=42):
        src = urlsplit(p["url"]).hostname
        for out in extract_outlinks(p["html"], base_url=p["url"]):
            dst = urlsplit(out).hostname
            counts[(src, dst)] = counts.get((src, dst), 0) + 1
    expect = sorted((s, d, n) for (s, d), n in counts.items())
    assert expect == sorted(_LNK1_GOLDEN_ROWS)


def test_outlink_base_href_override():
    # <base href> overrides the page url (HTML semantics; ADVICE r04):
    # absolute base, relative base (resolved against the page url first),
    # and the no-base control all resolve differently.
    a = b'<a href="x/y">x</a><a href="/root">r</a>'
    assert extract_outlinks(
        b'<head><base href="https://cdn.example.net/assets/"></head>' + a,
        base_url="https://page.example.com/dir/p",
    ) == ["https://cdn.example.net/assets/x/y", "https://cdn.example.net/root"]
    # relative base joins the page url before hrefs resolve
    assert extract_outlinks(
        b"<head><base href='/b/'></head>" + a,
        base_url="https://page.example.com/dir/p",
    ) == ["https://page.example.com/b/x/y", "https://page.example.com/root"]
    # absolute base works even with no page url at all
    assert extract_outlinks(
        b'<head><base href="https://only.example.org/d/"></head>' + a
    ) == ["https://only.example.org/d/x/y", "https://only.example.org/root"]
    # control: no base tag → page url is the base
    assert extract_outlinks(a, base_url="https://page.example.com/dir/p") == [
        "https://page.example.com/dir/x/y",
        "https://page.example.com/root",
    ]


# ---------------------------------------------------------------------------
# Anchor-text face (round 5)
# ---------------------------------------------------------------------------


def test_anchor_unit_spec():
    from greenocr_spark.extractor.links import extract_anchors

    html = (
        b"<html><body>"
        b'<a href="https://ex.org/a">Plain text</a>'
        b"<a href='/rooted'><b>Bold</b> &amp; <i>nested</i> <img src=x></a>"
        b'<a href="https://ex.org/a">Plain text</a>'  # duplicate KEPT
        b'<a href="#frag">fragment only</a>'
        b'<a href="javascript:void(0)">skip</a>'
        b"<a name=anchor>no href</a>"
        b'<a href="/img-only"><img src=y></a>'
        b'<a href="/ws">  lots\n\tof   space  </a>'
        b'<a href="/open">unclosed trailing'
    )
    got = extract_anchors(html, base_url="https://host.example.com/dir/page")
    assert got == [
        ("https://ex.org/a", "Plain text"),
        ("https://host.example.com/rooted", "Bold & nested"),
        ("https://ex.org/a", "Plain text"),
        ("https://host.example.com/img-only", ""),
        ("https://host.example.com/ws", "lots of space"),
    ]
    # PDFs / empty / None payloads have no markup anchors
    assert extract_anchors(b"%PDF-1.4 whatever") == []
    assert extract_anchors(b"") == []
    assert extract_anchors(None) == []


def test_anchor_golden_frozen():
    # the pure-Python anchor path over the fixture corpus must reproduce
    # the literal frozen in anch1's oracle (the ex4/ex7 pattern); seq in
    # the canon keeps repeated (src, dst, anchor) triples from xor-
    # cancelling (the fixture link-farm repeats its farm block verbatim)
    from greenocr_spark.battery_ml import _ANCH1_N, _ANCH1_XOR
    from greenocr_spark.extractor.links import extract_anchors

    acc, n = 0, 0
    for p in make_pages(1500, seed=42):
        for i, (d, a) in enumerate(extract_anchors(p["html"], base_url=p["url"])):
            canon = "\x1f".join([p["url"], str(i), d, a])
            acc ^= int(hashlib.sha256(canon.encode("utf-8")).hexdigest()[:15], 16)
            n += 1
    assert (acc, n) == (_ANCH1_XOR, _ANCH1_N)


def test_anchor_host_terms_provenance():
    # recompute anch2's frozen VALUES rows from the pure-Python spec
    # (urlsplit host + lowercase whitespace terms, top term by
    # count DESC / term ASC) — pins the golden literal to the spec,
    # independent of Spark
    from collections import Counter
    from urllib.parse import urlsplit

    from greenocr_spark.battery_ml import _ANCH2_GOLDEN_ROWS
    from greenocr_spark.extractor.links import extract_anchors

    per_host_terms: dict = {}
    per_host_anchors: Counter = Counter()
    for p in make_pages(400, seed=42):
        for d, a in extract_anchors(p["html"], base_url=p["url"]):
            h = urlsplit(d).hostname
            per_host_anchors[h] += 1
            c = per_host_terms.setdefault(h, Counter())
            for t in a.lower().split():
                c[t] += 1
    expect = []
    for h in sorted(per_host_terms):
        c = per_host_terms[h]
        top_term, top_count = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        expect.append((h, per_host_anchors[h], len(c), top_term, top_count))
    assert expect == sorted(_ANCH2_GOLDEN_ROWS)


def test_anchor_stage_is_narrow(spark, tmp_path):
    from greenocr_spark.fixtures import write_pages_parquet
    from greenocr_spark.operators.extract import extract_anchor_rows

    path = str(tmp_path / "p.parquet")
    write_pages_parquet(path, 50)
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        extract_anchor_rows(spark.read.parquet(path)).explain("formatted")
    p = buf.getvalue()
    assert "Exchange" not in p
    assert "MapInArrow" in p


def test_anchor_rows_match_python(spark):
    # extract_anchor_rows ≡ enumerating the pure-Python anchor spec per
    # page, in order, over fixture pages plus the edge pages: no anchors,
    # a PDF, html=NULL and repeated identical anchors (kept, distinct seq)
    from greenocr_spark.extractor.links import extract_anchors
    from greenocr_spark.operators.extract import extract_anchor_rows

    rep = b'<a href="/same">same text</a>' * 3
    pages = [(p["url"], p["html"]) for p in make_pages(60, seed=42)] + [
        ("https://e.example.com/none", b"<html><body><p>no links</p></body></html>"),
        ("https://e.example.com/doc.pdf", b"%PDF-1.4 <a href=/x>pdf</a>"),
        ("https://e.example.com/null", None),
        ("https://e.example.com/rep", b"<html><body>" + rep + b"</body></html>"),
    ]
    df = spark.createDataFrame(pages, "url string, html binary").repartition(4)
    rows = extract_anchor_rows(df)
    assert [(f.name, f.dataType.simpleString()) for f in rows.schema.fields] == [
        ("src", "string"), ("seq", "int"), ("dst", "string"), ("anchor", "string"),
    ]
    got = sorted(tuple(r) for r in rows.collect())
    want = sorted(
        (u, i, d, a)
        for u, html in pages
        for i, (d, a) in enumerate(extract_anchors(html, base_url=u))
    )
    assert got == want
    srcs = {r[0] for r in got}
    assert not srcs & {
        "https://e.example.com/none",
        "https://e.example.com/doc.pdf",
        "https://e.example.com/null",
    }
    assert [r[1:] for r in got if r[0] == "https://e.example.com/rep"] == [
        (i, "https://e.example.com/same", "same text") for i in range(3)
    ]


ANCHOR_FUZZ_FRAGMENTS = [
    "<a href=", '"', "'", ">", "</a>", "<a>", "text", "&amp;", "&#x41;",
    "<b>", "</b>", "<base href='/b/'>", "javascript:x", "https://f.ex/p",
    "//rel.ex/q", "#f", "mailto:a@b", "<img src=x>", "\n", "\t", "<",
    ">>", "<a href='/ok'>k</a>", "</A >", "<A HREF=x>", "<a data-href=/d x>",
    "<abbr href=/no>", "<a", "</a",
]


def test_anchor_fuzz_never_raises_and_matches_outlink_targets():
    # adversarial markup: the anchor extractor must never raise, must be
    # deterministic, and every target it emits must be a url the outlink
    # spec would also emit for the same page (one pass resolves both)
    from greenocr_spark.extractor.links import extract_anchors, extract_outlinks

    rng = random.Random(7)
    frags = ANCHOR_FUZZ_FRAGMENTS
    for _ in range(300):
        doc = "".join(rng.choice(frags) for _ in range(rng.randrange(0, 40)))
        raw = doc.encode("utf-8", errors="replace")
        a1 = extract_anchors(raw, base_url="https://host.ex/d/p")
        a2 = extract_anchors(raw, base_url="https://host.ex/d/p")
        assert a1 == a2
        targets = {u for u, _ in a1}
        outs = set(extract_outlinks(raw, base_url="https://host.ex/d/p"))
        assert targets <= outs, (doc, targets - outs)


def test_fused_extract_with_anchors_matches_both_faces(spark, tmp_path):
    # extract_pages(with_anchors=True) must equal the text face of the
    # default stage AND the anchor face of the standalone stage, row for
    # row; composes with with_links in the same pass
    from greenocr_spark.extractor.links import extract_anchors
    from greenocr_spark.fixtures import write_pages_parquet
    from greenocr_spark.operators.extract import extract_pages

    path = str(tmp_path / "p.parquet")
    write_pages_parquet(path, 200)
    pages = spark.read.parquet(path)
    fused = {
        r["url"]: (
            r["text"],
            [(a["dst"], a["anchor"]) for a in r["anchors"]],
            r["n_anchors"],
            list(r["outlinks"]),
        )
        for r in extract_pages(pages, with_links=True, with_anchors=True).collect()
    }
    text_only = {r["url"]: r["text"] for r in extract_pages(pages).collect()}
    assert len(fused) == 200
    for p in make_pages(200, seed=42):
        text, anchors, n_anchors, links = fused[p["url"]]
        assert text == text_only[p["url"]]
        expect = extract_anchors(p["html"], base_url=p["url"])
        assert anchors == expect
        assert n_anchors == len(expect)
    # still narrow
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        extract_pages(pages, with_anchors=True).explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_extract_job_with_anchors_schema_guard(spark, tmp_path):
    from greenocr_spark.fixtures import write_pages_parquet
    from greenocr_spark.plans.job import run_extract_job

    path = str(tmp_path / "p.parquet")
    write_pages_parquet(path, 100)
    pages = spark.read.parquet(path)
    out = str(tmp_path / "out")
    res = run_extract_job(spark, pages, out, n_parts=4, with_anchors=True)
    assert "anchors" in res.columns and "n_anchors" in res.columns
    assert res.count() == 100
    # resume with the SAME flag: no-op, schema stable
    assert run_extract_job(spark, pages, out, n_parts=4, with_anchors=True).count() == 100
    # resuming with a DIFFERENT flag must fail loudly, not mix schemas
    import pytest as _pt

    with _pt.raises(ValueError, match="with_anchors"):
        run_extract_job(spark, pages, out, n_parts=4)
    # and the links guard is independent of the anchors guard
    with _pt.raises(ValueError, match="with_links"):
        run_extract_job(spark, pages, out, n_parts=4, with_links=True, with_anchors=True)


# ---------------------------------------------------------------------------
# One-pass link faces against the two regex faces they replaced
# ---------------------------------------------------------------------------

# The previous outlink and anchor faces, kept verbatim (names prefixed) as
# the reference the one-pass scanner must reproduce byte for byte. They run
# in quadratic time on some markup and raise where urljoin raises, so the
# comparisons below skip inputs on which they raise.
_REF_A_HREF_RE = re.compile(
    r"<a\b[^>]*?\bhref\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s>]+))",
    re.IGNORECASE | re.DOTALL,
)
_REF_SKIP_SCHEMES = ("javascript:", "mailto:", "tel:", "data:", "about:")
_REF_BASE_HREF_RE = re.compile(
    r"<base\b[^>]*?\bhref\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s>]+))",
    re.IGNORECASE | re.DOTALL,
)
_REF_A_ELEM_RE = re.compile(r"<a\b([^>]*)>(.*?)</a\s*>", re.IGNORECASE | re.DOTALL)
_REF_TAG_RE = re.compile(r"<[^>]*>")


def ref_extract_outlinks(raw, base_url=None):
    if raw is None:
        return []
    if isinstance(raw, (bytes, bytearray, memoryview)):
        b = bytes(raw)
        if b[: len(b"%PDF-")] == b"%PDF-":
            return []
        s = decode_bytes(b)
    else:
        s = raw
    bm = _REF_BASE_HREF_RE.search(s)
    if bm:
        declared = unescape(bm.group(1) or bm.group(2) or bm.group(3) or "").strip()
        if declared:
            base_url = urljoin(base_url, declared) if base_url else declared
    out = []
    seen = set()
    for m in _REF_A_HREF_RE.finditer(s):
        url = _ref_resolve_href(m.group(1) or m.group(2) or m.group(3) or "", base_url)
        if url is None:
            continue
        if url not in seen:
            seen.add(url)
            out.append(url)
    return out


def _ref_resolve_href(href, base_url):
    href = unescape(href).strip()
    if not href or href.startswith("#"):
        return None
    if href.lower().startswith(_REF_SKIP_SCHEMES):
        return None
    url = urljoin(base_url, href) if base_url else href
    if not url.lower().startswith(("http://", "https://")):
        return None
    return url


def ref_extract_anchors(raw, base_url=None, valid=None):
    if raw is None:
        return []
    if isinstance(raw, (bytes, bytearray, memoryview)):
        b = bytes(raw)
        if b[: len(b"%PDF-")] == b"%PDF-":
            return []
        s = decode_bytes(b)
    else:
        s = raw
    valid = set(
        ref_extract_outlinks(s, base_url=base_url) if valid is None else valid
    )
    bm = _REF_BASE_HREF_RE.search(s)
    if bm:
        declared = unescape(bm.group(1) or bm.group(2) or bm.group(3) or "").strip()
        if declared:
            base_url = urljoin(base_url, declared) if base_url else declared
    out = []
    for m in _REF_A_ELEM_RE.finditer(s):
        inner = m.group(2)
        hm = _REF_A_HREF_RE.match(s, m.start())
        if not hm:
            continue
        url = _ref_resolve_href(hm.group(1) or hm.group(2) or hm.group(3) or "", base_url)
        if url is None or url not in valid:
            continue
        text = " ".join(unescape(_REF_TAG_RE.sub(" ", inner)).split())
        out.append((url, text))
    return out


def _diff_against_reference(docs) -> tuple[int, int]:
    """(pages whose faces differ from the reference, pages on which the
    reference raises); every face of the one pass is compared."""
    from greenocr_spark.extractor.links import extract_anchors, extract_link_faces

    diffs = raised = 0
    for raw, base in docs:
        try:
            want_links = ref_extract_outlinks(raw, base)
            want_anchors = ref_extract_anchors(raw, base)
        except ValueError:
            raised += 1
            continue
        got = (
            extract_outlinks(raw, base),
            extract_anchors(raw, base),
            extract_anchors(raw, base, valid=want_links),
            extract_link_faces(raw, base),
        )
        if got != (want_links, want_anchors, want_anchors, (want_links, want_anchors)):
            diffs += 1
    return diffs, raised


def test_link_pass_matches_reference_on_fixtures():
    pages = make_pages(GOLDEN_N, seed=42)
    assert _diff_against_reference((p["html"], p["url"]) for p in pages) == (0, 0)


def test_link_pass_matches_reference_on_benchmark_pages():
    from perfbench.inputs import cold_pages, crawl_pages

    pages = crawl_pages(5, 3, 0, 400) + cold_pages(5, 3, 0, 300)
    assert sum(1 for p in pages if b"<a" in p["html"]) > 500
    assert _diff_against_reference((p["html"], p["url"]) for p in pages) == (0, 0)


FUZZ_BASES = [
    "https://host.ex/d/p", None, "", "http://h:8080/x?y", "ftp://f/x",
    "HTTPS://Up.ex/a/b/", "http://u:p@h/", "http://[::1]/v6/", "http://[bad/",
]


# The link pass before the scan took quoted href values and the tag's '>'
# with each opener, kept verbatim (names prefixed): the reference for the
# pass and _anchors. _StartTags, _page_base, _Base and _join are shared.
_FROZEN_TOKEN_RE = re.compile(r"<(?:a\b(\s+href\s*=\s*)?|(/a\s*>)|(base)\b)", re.IGNORECASE)


def _frozen_resolve(href, base):
    from greenocr_spark.extractor import links

    href = unescape(href).strip()
    if not href or href[0] == "#":
        return None
    if href.lower().startswith(_REF_SKIP_SCHEMES):
        return None
    url = href if base is None else links._join(base, href)
    if url is None or not url.lower().startswith(("http://", "https://")):
        return None
    return url


def _link_pass_frozen_form(s, base_url):
    from bisect import bisect_left

    from greenocr_spark.extractor import links

    openers, closers, closer_ends, bases = [], [], [], []
    for m in _FROZEN_TOKEN_RE.finditer(s):
        k = m.lastindex
        if k == 2:
            closers.append(m.start())
            closer_ends.append(m.end())
        elif k == 3:
            bases.append(m.end())
        else:
            openers.append((m.start(), m.end() if k else 0))
    if bases:
        base_url = links._page_base(s, base_url, bases)
    base = links._Base(base_url) if base_url else None
    resolved = {}
    tags = links._StartTags(s)
    n = len(s)
    outlinks, seen, elements = [], set(), []
    out_pos = anchor_pos = 0
    for p, v in openers:
        body = None
        if p >= anchor_pos and closers:
            g = tags.end(p + 2)
            if g < n:
                k = bisect_left(closers, g + 1)
                if k < len(closers):
                    body = (g + 1, closers[k])
                    anchor_pos = closer_ends[k]
        want_out = p >= out_pos
        if not want_out and body is None:
            continue
        h = tags.value(v) if v else tags.href(p + 2)
        if h is None:
            continue
        value, end = h
        try:
            url = resolved[value]
        except KeyError:
            url = resolved[value] = _frozen_resolve(value, base)
        if want_out:
            out_pos = end
            if url is not None and url not in seen:
                seen.add(url)
                outlinks.append(url)
        if body is not None and url is not None:
            elements.append((url, *body))
    return outlinks, elements


def _anchors_frozen_form(s, elements, valid):
    out = []
    for url, i, j in elements:
        if url not in valid:
            continue
        inner = s[i:j]
        k = inner.rfind(">") + 1
        if k:
            inner = _REF_TAG_RE.sub(" ", inner[:k]) + inner[k:]
        out.append((url, " ".join(unescape(inner).split())))
    return out


_LINK_PIECES = [
    # openers and closers in any case, spaced, nested and unclosed
    "<a", "<A", "<a ", "< a", "<a>", "</a>", "</A >", "</a\t>", "</ a>", "<a\nhref='/nl'>",
    " href", " HREF", "href", "=", " = ", '"', "'", ">", "<", "/", "<b>", "</b>", "</ p>", "<p>",
    "<!DOCTYPE html>", "<br>", "<br/>", "<img src=x>", "<abbr href=/no>", "<a data-href=/d x>",
    "<a href='/x'>", '<a href="https://h.ex/p">', "<a href=/bare>", "<A HREF=\"/Q\">", "<a title='>' href=/t>",
    '<a href="/p>', "<a href='a\"b'>", '<a href="">', "<base href='/b/'>", "<ba\u017fe href=/s/>",
    # values: entities, control chars, schemes, unresolvable
    "&amp;", "&#x41;", "&quot;", "&#12;", "\x01", "\x0b", "\x1c", "\x7f", "#frag", "javascript:x",
    "JavaScript:y", "mailto:a@b", "https://[x/", "?q=1", "//h.ex/q", "/a/../b", "/.x", "http://Q.ex/Up",
    # text, with the IGNORECASE folds' chars
    "text", "two words", " ", "  ", "\n", "\u017f", "\u0130", "\u0131", "\u212a", "caf\xe9",
]


@given(st.lists(st.sampled_from(_LINK_PIECES), max_size=30), st.sampled_from(FUZZ_BASES))
@settings(max_examples=1000, deadline=None)
def test_link_pass_matches_frozen_form(pieces, base):
    from greenocr_spark.extractor.links import extract_anchors, extract_link_faces

    s = "".join(pieces)
    outlinks, elements = _link_pass_frozen_form(s, base)
    anchors = _anchors_frozen_form(s, elements, set(outlinks))
    assert extract_link_faces(s, base) == (outlinks, anchors)
    assert extract_outlinks(s, base) == outlinks
    assert extract_anchors(s, base, valid=outlinks[::2]) == _anchors_frozen_form(s, elements, set(outlinks[::2]))


def test_link_pass_fuzz_matches_reference():
    rng = random.Random(11)
    frags = ANCHOR_FUZZ_FRAGMENTS + [
        " href =", "HREF", "<base ", "/p", " ", "=", "https://[x/", "?q=1",
        "/.x", "/a/../b", "<baſe href=/s/>", "ä", "_", "<a\nhref='/nl'>",
        "&quot;", "<a title='>' href=/t>", "http://Q.ex/Up", "</a\t>",
    ]
    docs = []
    for _ in range(20_000):
        doc = "".join(rng.choice(frags) for _ in range(rng.randrange(0, 40)))
        raw = doc if rng.random() < 0.5 else doc.encode("utf-8")
        docs.append((raw, rng.choice(FUZZ_BASES)))
    diffs, raised = _diff_against_reference(docs)
    assert diffs == 0
    assert raised < len(docs) // 5  # one base in nine raises on every href


def test_fast_join_matches_urljoin():
    # the shapes that skip urljoin must give its result, and where urljoin
    # raises on the base they must not get through either
    from greenocr_spark.extractor import links

    rng = random.Random(5)
    bases = [
        "https://h.ex/d/p", "http://h.ex", "http://u:p@h.ex:8080/a/b?q=1#f",
        "https://h.ex:443/a/", "HTTPS://Up.EX/A", "http://[::1]:80/x",
        "http://[::1/x", "http://[", "ftp://f.ex/x", "file:///x",
        "//nohost/x", "/just/path", "rel/path", "http:///x", "https://h.ex/a;p?q",
        "mailto:x@y", " http://sp.ex/", "http://ä.ex/", "https://h.ex?q",
        "HtTp://h.ex/", "http://h.ex/a/./b/../c",
    ]
    pieces = [
        "/", "//", "a", "B", "..", ".", "?", "#", ";", ":", "@", "%20", "~",
        "-", "_", "[", "]", "::1", "ä", " ", "\t", "http", "https", "HTTP",
        "://", "h.ex", "x.y", "80", "=", "&", "'", "(", "+", "!", "\\", "ftp:",
    ]
    plain = ["a", "B", "x.y", "-", "_", "~", "/", "80", "%20", "=", "&", "'", "(", "+", "!", ":", "@"]
    outcomes = {"fast": 0, "urljoin": 0}
    diffs = []
    for _ in range(100_000):
        base = rng.choice(bases)
        if rng.random() < 0.3:
            base += "".join(rng.choice(pieces) for _ in range(rng.randrange(0, 4)))
        if rng.random() < 0.5:  # mostly the fast shapes
            head = rng.choice(["/", "http://h.ex/", "https://a-b.c", "/x/"])
            tail = "".join(rng.choice(plain) for _ in range(rng.randrange(0, 8)))
        else:
            head = rng.choice(["/", "http://", "https://", "HTTP://", "", "//"])
            tail = "".join(rng.choice(pieces) for _ in range(rng.randrange(0, 8)))
        href = head + tail
        if not href:
            continue
        try:
            want = urljoin(base, href)
        except ValueError:
            want = None  # raising is an outcome: the href must be dropped
        b = links._Base(base)
        fast = b.ok and (
            links._ABSOLUTE_RE.fullmatch(href)
            or (b.root is not None and links._ROOTED_RE.fullmatch(href))
        )
        outcomes["fast" if fast else "urljoin"] += 1
        if links._join(b, href) != want:
            diffs.append((base, href, want))
    assert diffs == []
    assert outcomes["fast"] > 20_000 and outcomes["urljoin"] > 20_000, outcomes


UNRESOLVABLE_PAGES = [
    b'<a href="https://[x/">v6</a><a href="/ok">ok</a>',
    b'<a href="//[::1">v6</a><a href="/ok">ok</a>',
    b'<base href="http://["><a href="/ok">ok</a>',
]


def test_unresolvable_hrefs_are_dropped():
    from greenocr_spark.extractor.links import extract_anchors, extract_link_faces

    page = "https://h.ex/d/p"
    want = (["https://h.ex/ok"], [("https://h.ex/ok", "ok")])
    for raw in UNRESOLVABLE_PAGES:
        assert extract_link_faces(raw, page) == want, raw
        assert extract_outlinks(raw, page) == want[0]
        assert extract_anchors(raw, page) == want[1]
    # an unresolvable <base href> without a page url is ignored as well
    raw = b'<base href="http://["><a href="https://a.ex/">a</a><a href=/r>r</a>'
    assert extract_link_faces(raw) == (["https://a.ex/"], [("https://a.ex/", "a")])
    # a page url that cannot be parsed: urljoin raises on every href
    raw = b'<a href="https://a.ex/">a</a><a href=/r>r</a>'
    assert extract_link_faces(raw, "http://[bad/") == ([], [])


# each shape at its smallest size; the linearity test doubles it twice
ADVERSARIAL_SHAPES = {
    "a-hre-no-gt": (b"<a hre ", 13_000),
    "unclosed-a": (b"<a href=/p>", 21_000),
    "unterminated-quote": (b'<a href="/p>', 21_000),
    "script-no-gt": (b"<script ", 13_000),
    "pdf-dict-no-close": (b"%PDF-<<", 8_000),
    "pdf-stream-no-end": (b"%PDF-stream\n", 13_000),
    "div-unmatched-close": (b"<div></p>", 36_000),
}


def _adversarial(unit: bytes, size: int) -> bytes:
    return unit * (size // len(unit))


def _fused_batch_fn(**faces):
    """extract_pages' per-batch function, taken without a Spark session:
    the frame below only records what mapInArrow is handed."""
    from pyspark.sql.types import StructType

    from greenocr_spark.operators.extract import extract_pages

    class _Frame:
        schema = StructType([])

        def select(self, *cols):
            return self

        def mapInArrow(self, fn, schema):
            self.fn = fn
            return self

    return extract_pages(_Frame(), **faces).fn


def test_link_faces_linear_time():
    import pyarrow as pa

    from greenocr_spark.extractor.links import extract_anchors

    fused = _fused_batch_fn(with_links=True, with_anchors=True)
    url = "https://h.ex/d/p"

    def fused_call(raw):
        batch = pa.RecordBatch.from_pydict(
            {"url": pa.array([url]), "html": pa.array([raw], pa.binary())}
        )
        (res,) = fused(iter([batch]))
        return res.column("outlinks")[0].as_py(), res.column("anchors")[0].as_py()

    def wrappers(raw):
        links = extract_outlinks(raw, url)
        return links, extract_anchors(raw, url, valid=links)

    # CPU time, so other processes do not count, with the three sizes run
    # back to back in each of 7 rounds. A shared core can switch speed for
    # a few ms at a time, so each size is compared with the one before it
    # in the same round, and the median of those ratios over the rounds is
    # bounded: a per-size best can come from a fast window the next size
    # never saw. A quadratic pass reads ~4 per doubling.
    gc.disable()
    try:
        for name, (unit, size) in ADVERSARIAL_SHAPES.items():
            docs = [_adversarial(unit, size << k) for k in range(3)]
            for run in (fused_call, wrappers):
                rounds = []
                for _ in range(7):
                    secs = []
                    for raw in docs:
                        t = time.process_time()
                        run(raw)
                        secs.append(time.process_time() - t)
                    rounds.append(secs)
                growth = [statistics.median(r[k + 1] / r[k] for r in rounds) for k in (0, 1)]
                assert max(growth) <= 2.5, (name, run, growth, rounds)
                assert min(r[2] for r in rounds) < 0.25, (name, run, rounds)
    finally:
        gc.enable()


# ROADMAP item 10's shapes, beside ADVERSARIAL_SHAPES
MEMORY_SHAPES = {
    "p-x": b"<p>x",
    "a-href-y": b'<a href="/x">y</a>',
    "word": b"word ",
    "i-tag": b"<i>",
    **{name: unit for name, (unit, _) in ADVERSARIAL_SHAPES.items()},
}
# Peak RSS growth per input byte, bounded at 1.25x the most that the
# extraction before the one-lookup tokenize and the scan-fed link pass took
# at either size (256 KB and 1 MB pages, measured the same way on a 4-core
# x86-64 Linux box), and at 4 for the PDF shapes, whose few bytes per byte
# are allocator noise.
MEMORY_BOUNDS = {
    "p-x": 67, "a-href-y": 26, "word": 21, "i-tag": 12, "a-hre-no-gt": 29, "unclosed-a": 17,
    "unterminated-quote": 16, "script-no-gt": 14, "pdf-dict-no-close": 4, "pdf-stream-no-end": 4,
    "div-unmatched-close": 27,
}
_MEMORY_CHILD = """
import resource, sys
from greenocr_spark.extractor.core import PageBatch
from greenocr_spark.extractor.links import extract_link_faces
unit = bytes.fromhex(sys.argv[1])
raw = unit * (int(sys.argv[2]) // len(unit))
PageBatch().add(b"<p>warm</p>")
before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
batch = PageBatch()
markup = batch.add(raw)
ex = batch.finish()
faces = extract_link_faces(markup, "https://h.ex/d/p")
after = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
print((after - before) * 1024 / len(raw))
"""


def test_page_memory_per_input_byte():
    # each shape extracts (text path and both link faces) as one page in
    # its own child process, at two sizes; ru_maxrss growth per input byte
    # must stay under the shape's bound
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root}
    assert set(MEMORY_BOUNDS) == set(MEMORY_SHAPES)
    over = {}
    for name, unit in MEMORY_SHAPES.items():
        for size in (1 << 18, 1 << 20):
            out = subprocess.run(
                [sys.executable, "-c", _MEMORY_CHILD, unit.hex(), str(size)],
                env=env, capture_output=True, text=True, check=True, timeout=120,
            )
            per_byte = float(out.stdout)
            if per_byte > MEMORY_BOUNDS[name]:
                over[(name, size)] = per_byte
    assert over == {}


def test_extract_pages_survives_hostile_pages(spark):
    # unresolvable hrefs and the largest adversarial shapes go through the
    # fused stage: it completes, and each row equals the pure-Python faces
    from greenocr_spark.extractor.links import extract_link_faces
    from greenocr_spark.operators.extract import extract_pages

    rows = [(f"https://h{i}.ex/d/p", raw) for i, raw in enumerate(UNRESOLVABLE_PAGES)]
    rows += [
        (f"https://adv.ex/{name}", _adversarial(unit, size << 2))
        for name, (unit, size) in ADVERSARIAL_SHAPES.items()
    ]
    df = spark.createDataFrame(rows, "url string, html binary").repartition(2)
    got = {
        r["url"]: (list(r["outlinks"]), [(a["dst"], a["anchor"]) for a in r["anchors"]])
        for r in extract_pages(df, with_links=True, with_anchors=True).collect()
    }
    assert len(got) == len(rows)
    for url, raw in rows:
        assert got[url] == extract_link_faces(raw, url), url
    assert got["https://h0.ex/d/p"] == (["https://h0.ex/ok"], [("https://h0.ex/ok", "ok")])
