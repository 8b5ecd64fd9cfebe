"""Tests for the minimal PDF layout parser (SURVEY.md §7.2 milestone 7)."""

import re
import zlib

from hypothesis import given, settings
from hypothesis import strategies as st

from greenocr_spark.extractor.pdf import build_pdf, extract_pdf, iter_streams


def test_roundtrip_uncompressed():
    raw = build_pdf([[(72, 700, "first line"), (72, 680, "second line")]])
    r = extract_pdf(raw)
    assert r["text"] == "first line second line"
    assert r["n_blocks"] == 2 and r["kind"] == "pdf"


def test_roundtrip_flate():
    raw = build_pdf([[(72, 700, "compressed span")]], compress=True)
    assert b"FlateDecode" in raw
    assert extract_pdf(raw)["text"] == "compressed span"


def test_reading_order_sorts_by_y_desc_then_x():
    # emit spans out of order; parser must sort (page, -y, x)
    raw = build_pdf([[(300, 650, "gamma"), (72, 700, "alpha"), (200, 700, "beta")]])
    assert extract_pdf(raw)["text"] == "alpha beta gamma"


def test_multipage_order():
    raw = build_pdf([[(72, 700, "page one")], [(72, 700, "page two")]])
    assert extract_pdf(raw)["text"] == "page one page two"


def test_string_escapes():
    raw = build_pdf([[(72, 700, r"parens (nested) and \ backslash")]])
    assert extract_pdf(raw)["text"] == r"parens (nested) and \ backslash"


def test_tj_array_concat():
    # hand-rolled TJ with kerning numbers between strings
    body = b"BT 72 700 Td [(hel) -20 (lo) 10 ( world)] TJ ET"
    raw = (
        b"%PDF-1.4\n1 0 obj\n<< /Length "
        + str(len(body)).encode()
        + b" >>\nstream\n"
        + body
        + b"\nendstream\nendobj\ntrailer\n%%EOF"
    )
    assert extract_pdf(raw)["text"] == "hello world"


def test_spans_offsets_valid():
    raw = build_pdf([[(72, 700, "aa"), (72, 680, "bbb")]])
    r = extract_pdf(raw)
    for idx, s, e, cls in r["spans"]:
        assert cls == "content"
        assert r["text"][s:e] in ("aa", "bbb")


def test_corrupt_stream_no_crash():
    raw = b"%PDF-1.4\nstream\n" + zlib.compress(b"BT (x) Tj ET")[:5] + b"\nendstream\n%%EOF"
    r = extract_pdf(raw)
    assert isinstance(r["text"], str)


def test_stream_body_containing_endstream_bytes():
    # /Length must win over delimiter scanning: a stream body (e.g. Flate
    # bytes) can legally contain the literal b"\nendstream" — a naive
    # non-greedy scan truncates the stream and drops following pages.
    body = (
        b"BT /F1 12 Tf 72 700 Td (first span) Tj ET\n"
        b"%\nendstream decoy comment\n"
        b"BT /F1 12 Tf 72 680 Td (second span) Tj ET"
    )
    raw = (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(body)).encode() + b" >>\nstream\n"
        + body + b"\nendstream\nendobj\ntrailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )
    r = extract_pdf(raw)
    assert r["text"] == "first span second span"


def test_hex_string_tj():
    body = b"BT /F1 12 Tf 72 700 Td <48656C6C 6F20776F726C64> Tj ET"
    raw = (
        b"%PDF-1.4\n4 0 obj\n<< /Length " + str(len(body)).encode() + b" >>\nstream\n"
        + body + b"\nendstream\nendobj\n%%EOF\n"
    )
    assert extract_pdf(raw)["text"] == "Hello world"


def test_hex_string_odd_length_pads():
    body = b"BT /F1 12 Tf 72 700 Td <48656C6C6F2> Tj ET"  # trailing '2' -> 0x20
    raw = (
        b"%PDF-1.4\n4 0 obj\n<< /Length " + str(len(body)).encode() + b" >>\nstream\n"
        + body + b"\nendstream\nendobj\n%%EOF\n"
    )
    assert extract_pdf(raw)["text"] == "Hello"


def test_truncated_and_trailing_flate_streams_parse_as_before():
    # a cut stream is not inflated (parsed raw, as zlib.decompress's error
    # left it); bytes after a complete stream are ignored
    from greenocr_spark.extractor.pdf import _inflate

    body = zlib.compress(b"BT (hello) Tj ET")
    assert _inflate(body, 1 << 20) == b"BT (hello) Tj ET"
    assert _inflate(body + b"junk", 1 << 20) == b"BT (hello) Tj ET"
    assert _inflate(body[:-3], 1 << 20) is None
    assert _inflate(b"BT (plain) Tj ET", 1 << 20) is None
    assert _inflate(body, 4) == b"BT ("
    assert _inflate(body, 0) == b""


def test_flate_bomb_is_capped():
    # ~1000:1 deflate bomb: 256 MB of content in ~0.8 MB. Uncapped, it ran
    # for minutes in gigabytes; capped, one document inflates at most
    # MAX_INFLATE_BYTES. Run in a fresh interpreter so its peak RSS is this
    # document's alone.
    import subprocess
    import sys
    import textwrap

    code = textwrap.dedent(
        """
        import json, resource, time, zlib
        from greenocr_spark.extractor.pdf import MAX_INFLATE_BYTES, extract_pdf

        chunk = b"BT /F1 12 Tf 72 700 Td (hello world) Tj ET\\n" * 24_000
        c = zlib.compressobj(9)
        stream = b"".join([c.compress(chunk) for _ in range(256)] + [c.flush()])
        raw = (
            b"%PDF-1.4\\n1 0 obj << /Length " + str(len(stream)).encode()
            + b" /Filter /FlateDecode >> stream\\n" + stream
            + b"\\nendstream\\nendobj\\n" + stream  # a second bomb, past the cap
            + b"\\n%%EOF"
        )
        t = time.perf_counter()
        r = extract_pdf(raw)
        print(json.dumps({
            "s": time.perf_counter() - t,
            "rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
            "chars": len(r["text"]),
            "cap_chars": MAX_INFLATE_BYTES * 12 // 43,
        }))
        """
    )
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr
    got = json.loads(out.stdout)
    assert got["s"] < 30, got
    assert got["rss_mb"] < 400, got
    # each 43-byte line gives "hello world" and a joining space: the text is
    # what fit under the cap, and the second bomb adds nothing
    assert 0 < got["chars"] <= got["cap_chars"], got


# the regex forms of the stream scans, frozen as the scans' reference
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.DOTALL)
_DICT_STREAM_RE = re.compile(rb"<<([^>]*(?:>(?!>)[^>]*)*)>>\s*stream\r?\n", re.DOTALL)


def _iter_streams_frozen_form(raw):
    found = False
    for m in _DICT_STREAM_RE.finditer(raw):
        lm = re.search(rb"/Length\s+(\d+)", m.group(1))
        start = m.end()
        if lm:
            n = int(lm.group(1))
            if raw[start + n : start + n + 11].lstrip(b"\r\n").startswith(b"endstream"):
                found = True
                yield raw[start : start + n]
                continue
        em = _STREAM_RE.match(raw, m.start() + m.group(0).find(b"stream"))
        if em:
            found = True
            yield em.group(1)
    if not found:
        for m in _STREAM_RE.finditer(raw):
            yield m.group(1)


_PDF_PIECES = [
    b"<<", b">>", b">", b"<", b"stream", b"endstream", b"\n", b"\r", b"\r\n", b" ",
    b"/Length ", b"0", b"3", b"12", b"x", b"BT (a) Tj ET", b"obj",
    b"<< /Length 3 >>\nstream\n", b"\nendstream",
]


@given(st.lists(st.sampled_from(_PDF_PIECES), max_size=60))
@settings(max_examples=2000, deadline=None)
def test_stream_scans_match_frozen_regex_form(pieces):
    raw = b"%PDF-1.4\n" + b"".join(pieces)
    assert list(iter_streams(raw)) == list(_iter_streams_frozen_form(raw))


def test_stream_scans_on_generated_pdfs_match_frozen_regex_form():
    pages = [[(72, 700 - 20 * k, f"line {k} (x) \\ y") for k in range(5)]] * 3
    for compress in (False, True):
        raw = build_pdf(pages, compress=compress)
        assert list(iter_streams(raw)) == list(_iter_streams_frozen_form(raw))
        assert len(list(iter_streams(raw))) == 3


# extract_pdf as it was before PDF pages became blocks of the PageBatch,
# frozen as the PDF route's reference: its own span offsets and join
def _extract_pdf_frozen_form(raw):
    from greenocr_spark.extractor.core import canon_ws
    from greenocr_spark.extractor.pdf import MAX_INFLATE_BYTES, _inflate, _parse_stream

    parts = []
    spans_out = []
    off = 0
    idx = 0
    room = MAX_INFLATE_BYTES
    for body in iter_streams(raw):
        inflated = _inflate(body, room)
        if inflated is not None:
            body = inflated
            room -= len(body)
        page_spans = _parse_stream(body)
        page_spans.sort(key=lambda s: (-s[1], s[0]))
        for _x, _y, text in page_spans:
            text = canon_ws(text)
            if not text:
                continue
            if parts:
                off += 1
            start = off
            parts.append(text)
            off += len(text)
            spans_out.append((idx, start, off, "content"))
            idx += 1
    return {
        "text": " ".join(parts),
        "spans": spans_out,
        "n_blocks": idx,
        "n_content": idx,
        "n_boilerplate": 0,
        "kind": "pdf",
    }


def _one_stream_pdf(body, length=None, filt=b""):
    n = len(body) if length is None else length
    return (
        b"%PDF-1.4\n4 0 obj\n<< /Length " + str(n).encode() + filt + b" >>\nstream\n"
        + body + b"\nendstream\nendobj\n%%EOF\n"
    )


_SHORT_SPANS_PDF = build_pdf([[(72, 700 - 14 * k, w) for k, w in enumerate("a bb ccc dd e".split())]])

_HAND_ROLLED_PDFS = [
    # TJ arrays: kerning numbers between strings, an empty array, nesting
    _one_stream_pdf(b"BT 72 700 Td [(hel) -20 (lo) 10 ( world)] TJ ET"),
    _one_stream_pdf(b"BT 72 700 Td [] TJ 0 -14 Td [([a]) [(b)] (c)] TJ ET"),
    # hex strings: spaced, odd length, not hex at all
    _one_stream_pdf(b"BT /F1 12 Tf 72 700 Td <48656C6C 6F20776F726C64> Tj ET"),
    _one_stream_pdf(b"BT /F1 12 Tf 72 700 Td <48656C6C6F2> Tj ET"),
    _one_stream_pdf(b"BT 72 700 Td <zz> Tj 0 -14 Td (after) Tj ET"),
    # a /Length decoy: the body holds "\nendstream", the length is honest
    _one_stream_pdf(
        b"BT /F1 12 Tf 72 700 Td (first span) Tj ET\n%\nendstream decoy comment\n"
        b"BT /F1 12 Tf 72 680 Td (second span) Tj ET"
    ),
    # a /Length that points past the body: the delimiter scan takes over
    _one_stream_pdf(b"BT 72 700 Td (lying length) Tj ET", length=9999),
    # corrupt and truncated Flate, a complete one, whitespace-only spans
    b"%PDF-1.4\nstream\n" + zlib.compress(b"BT (x) Tj ET")[:5] + b"\nendstream\n%%EOF",
    _one_stream_pdf(zlib.compress(b"BT 72 700 Td (inflated) Tj ET"), filt=b" /Filter /FlateDecode"),
    _one_stream_pdf(zlib.compress(b"BT 72 700 Td (cut) Tj ET")[:-4], filt=b" /Filter /FlateDecode"),
    _one_stream_pdf(b"BT 72 700 Td (  ) Tj 72 690 Td (\\t\\n) Tj 72 680 Td ( two  words ) Tj ET"),
    # next-line shorthands and no stream at all
    _one_stream_pdf(b"BT 72 700 Td (one) ' (two) \" ET"),
    b"%PDF-1.4\n%%EOF\n",
]


def _generated_pdfs():
    from greenocr_spark.fixtures import make_pages

    pages = [[(72, 700 - 20 * k, f"line {k} (x) \\ y") for k in range(5)]] * 3
    out = [build_pdf(pages, compress=c) for c in (False, True)]
    out += [
        build_pdf([[(72, 700, "first line"), (72, 680, "second line")]]),
        build_pdf([[(300, 650, "gamma"), (72, 700, "alpha"), (200, 700, "beta")]]),
        build_pdf([[(72, 700, "page one")], [(72, 700, "page two")]], compress=True),
        build_pdf([[(72, 700, r"parens (nested) and \ backslash")]]),
        build_pdf([[]]),
    ]
    out += [p["html"] for p in make_pages(300) if p["html"] and p["html"].startswith(b"%PDF-")]
    return out


def test_pdf_route_keeps_the_frozen_bytes():
    from greenocr_spark.extractor.core import DEFAULT_CONFIG, extract_document

    pdfs = [*_generated_pdfs(), *_HAND_ROLLED_PDFS, _SHORT_SPANS_PDF]
    assert sum(p.startswith(b"%PDF-") for p in pdfs) == len(pdfs) > 20
    for raw in pdfs:
        want = _extract_pdf_frozen_form(raw)
        assert extract_document(raw) == want, raw[:200]
        assert extract_pdf(raw) == want
    # every span is under min_chars, and every one is still content
    short = extract_document(_SHORT_SPANS_PDF)
    assert short["n_content"] == 5 and short["text"] == "a bb ccc dd e"
    assert all(e - s < DEFAULT_CONFIG.min_chars for _, s, e, _ in short["spans"])


def test_mixed_batches_equal_each_page_alone():
    """A PDF page's blocks share the batch's columns and decode pass: a
    page's result is the same at every position of a batch that holds
    HTML, PDF, empty, None and text-less PDF pages, under any config."""
    from dataclasses import replace

    from greenocr_spark.extractor.core import DEFAULT_CONFIG, PageBatch, extract_document
    from greenocr_spark.fixtures import make_pages

    html = [p["html"] for p in make_pages(40) if p["html"] and not p["html"].startswith(b"%PDF-")]
    pages = [
        html[0],
        build_pdf([[(72, 700, "a pdf page with enough text to be content"), (72, 680, "tiny")]]),
        b"",
        html[1],
        None,
        build_pdf([[]]),
        _SHORT_SPANS_PDF,
        b"<html><body><p>one short html block</p></body></html>",
        html[2],
        _HAND_ROLLED_PDFS[0],
    ]
    for cfg in (DEFAULT_CONFIG, replace(DEFAULT_CONFIG, min_chars=80, threshold=0.7)):
        alone = [extract_document(raw, cfg) for raw in pages]
        assert {r["kind"] for r in alone} == {"html", "pdf", "empty"}
        for shift in range(len(pages)):
            order = pages[shift:] + pages[:shift]
            batch = PageBatch()
            for raw in order:
                batch.add(raw)
            ex = batch.finish(cfg)
            for i in range(len(order)):
                assert ex.row(i) == alone[(i + shift) % len(pages)], (shift, i)
