"""Outlink and anchor-text extraction — the web-graph faces of the pipeline.

`tokenize_blocks` deliberately discards tag attributes (its hot path is
the frozen byte-identity spec for TEXT), so link harvesting is its own
pass over the same decoded markup. Deterministic pure Python — the fused
Spark stage (`operators/extract.extract_pages` with its link and anchor
faces) is a thin Arrow-batched wrapper, and the edges feed the host-graph
workloads (pr1 host rank, gr1 triangles, crawl-frontier prioritization).

One left-to-right pass yields both faces (`extract_link_faces`):

- an `<a` start tag (`<a` then a non-word character, any case) runs to
  its first `>`. Its href is the first `href=` name inside it (after a
  non-word character, any case, spaces allowed around `=`) whose value is
  "double-quoted", 'single-quoted' or bare (up to whitespace or `>`); a
  quote with no closing quote is read as the first character of a bare
  value, and a quoted value may run past the tag's `>`;
- outlinks: tags are taken in document order, and the next one searched
  starts after the previous href value. Unique urls, first-seen order;
- anchors: a start tag with a `>` whose body ends at the first
  `</a\\s*>` after it; the next one searched starts after that closer.
  Duplicates are kept; an anchor's target must be one of the page's
  outlinks.

The tag's `>`, the href names and the quote closers are each found once,
with cached forward searches, so the pass is linear in the page length:
no markup shape can make one page cost quadratic time.

Resolution: each distinct href of a page is resolved once. It is entity-
decoded and stripped; empty, fragment-only and javascript:/mailto:/tel:/
data:/about: hrefs drop; the rest resolve against the page's base url
(RFC 3986 via urljoin) and must come out http(s). The first `<base href>`
overrides the page url (`urljoin(page url, base href)`). Two href shapes
skip urljoin because its result is known: a strict absolute http(s) url
with a plain host and path is its own result, and a plain rooted path
(`/…`, not `//…`, no dot segment) under an http(s) base with a host is
that base's `scheme://netloc` plus the path.

Crash rule (urljoin raises ValueError on malformed IPv6 hosts and on some
non-ASCII netlocs): an href whose resolution raises is dropped; a
`<base href>` that cannot be resolved is ignored; a page url that cannot
be parsed drops every href, because urljoin raises on all of them.

The reference repo has no web-graph stage; this is an engine addition in
the same class as the dedup/ANN battery (task brief: large-scale
training-data pipeline operations).
"""

from __future__ import annotations

import re
from bisect import bisect_left
from html import unescape
from urllib.parse import urljoin, urlsplit

from greenocr_spark.extractor.core import PDF_MAGIC, decode_bytes

_SKIP_SCHEMES = ("javascript:", "mailto:", "tel:", "data:", "about:")

# One scan finds every token the pass needs, in document order: `<a`
# openers, `</a\s*>` closers (group 3) and `<base` openers (group 4). An
# `<a` opener whose first attribute is href captures the name (group 1)
# and, when its value is quoted and holds neither '<', '>' nor its closing
# quote, the value with its quotes (group 2). Tokens cannot overlap (none
# holds a second '<'), so the scan misses none.
_TOKEN_RE = re.compile(
    r"""<(?:a\b(?:(\s+href\s*=\s*)("[^"<>]*"|'[^'<>]*')?)?|(/a\s*>)|(base)\b)""", re.IGNORECASE
)
_HREF_NAME_RE = re.compile(r"\bhref\s*=\s*", re.IGNORECASE)
_BARE_VALUE_RE = re.compile(r"[^\s>]+")
_TAG_RE = re.compile(r"<[^>]*>")

# hrefs whose urljoin result is known without calling it (see the module
# docstring). No whitespace, non-ASCII, '?', '#', ';', '[' or ']': urlsplit
# passes them through untouched, and the host has no userinfo or port.
_PATH_CHARS = r"[A-Za-z0-9._~!$&'()*+,=:@%/-]"
_ABSOLUTE_RE = re.compile(rf"https?://[A-Za-z0-9.-]+(?:/{_PATH_CHARS}*)?")
_ROOTED_RE = re.compile(r"(?!//)(?:/(?!\.)[A-Za-z0-9._~!$&'()*+,=:@%-]*)+")


def _markup(raw) -> str | None:
    """The page as a string, or None when it has no markup (None, PDF).

    bytes decode through the extractor's own decode_bytes (BOM → declared
    charset → utf-8 → latin-1), so charset quirks resolve identically to
    the text path."""
    if raw is None:
        return None
    if isinstance(raw, (bytes, bytearray, memoryview)):
        b = bytes(raw)
        if b.startswith(PDF_MAGIC):
            return None
        return decode_bytes(b)
    return raw


class _StartTags:
    """href values of start tags, found left to right in linear time.

    `href(a)` must be called with non-decreasing `a`: the forward searches
    for `>`, href names and closing quotes are cached and never rescan."""

    def __init__(self, s: str):
        self.s = s
        self.n = len(s)
        # (lo, at): the first '>' at or after lo is at `at` (len(s): none);
        # (1, 0) holds no offset, so the first query searches
        self._gt_lo, self._gt = 1, 0
        self._quote = {'"': (1, 0), "'": (1, 0)}  # the same per quote, -1: none
        self._names: list[int] = []  # href name starts, ascending
        self._values: list[int] = []  # where each name's value starts
        self._scanned = 0  # names are known in every tag ending at or before

    def end(self, i: int) -> int:
        """The first '>' at or after i, else len(s)."""
        if not self._gt_lo <= i <= self._gt:
            g = self.s.find(">", i)
            self._gt_lo, self._gt = i, (g if g >= 0 else self.n)
        return self._gt

    def _close(self, q: str, i: int) -> int:
        lo, at = self._quote[q]
        if not (lo <= i and (at < 0 or i <= at)):
            lo, at = i, self.s.find(q, i)
            self._quote[q] = (lo, at)
        return at

    def value(self, v: int) -> tuple[str, int] | None:
        """(value, end of value) of the href name ending at v, or None when
        the tag (or the page) ends there."""
        s = self.s
        if v == self.n:
            return None
        c = s[v]
        if c == '"' or c == "'":
            e = self._close(c, v + 1)
            if e >= 0:
                return s[v + 1 : e], e + 1
        elif c == ">":
            return None
        m = _BARE_VALUE_RE.match(s, v)
        return m.group(), m.end()

    def href(self, a: int) -> tuple[str, int] | None:
        """value() of the first href name of the start tag whose name ends
        at a, or None."""
        g = self.end(a)
        if self._scanned < g:
            # every earlier scan stopped at a '>' before a, so this tag's
            # names are all new
            for m in _HREF_NAME_RE.finditer(self.s, a, g):
                self._names.append(m.start())
                self._values.append(m.end())
            self._scanned = g
        # only a tag's last name can lack a value (its value would start at
        # the tag's '>'), so the first name decides
        j = bisect_left(self._names, a)
        if j < len(self._names) and self._names[j] < g:
            return self.value(self._values[j])
        return None


def _page_base(s: str, base_url: str | None, bases: list[int]) -> str | None:
    """The base the page's hrefs resolve against: the first <base href>
    (`bases`: where each `<base` name ends) joined to the page url, or the
    page url when there is none or it cannot be resolved."""
    tags = _StartTags(s)
    for a in bases:
        h = tags.href(a)
        if h is None:
            continue
        declared = unescape(h[0]).strip()
        if declared:
            try:
                base = urljoin(base_url, declared) if base_url else declared
                urlsplit(base)
            except ValueError:
                return base_url
            return base
        return base_url
    return base_url


class _Base:
    """A page's effective base url, parsed once for the fast joins."""

    __slots__ = ("url", "ok", "root")

    def __init__(self, url: str):
        self.url = url
        self.ok = True  # False when urlsplit (so every urljoin) raises on it
        self.root = None  # "scheme://netloc" of an http(s) base with a host
        try:
            parts = urlsplit(url)
        except ValueError:
            self.ok = False
        else:
            if parts.scheme in ("http", "https") and parts.netloc:
                self.root = f"{parts.scheme}://{parts.netloc}"


def _join(base: _Base, href: str) -> str | None:
    """urljoin(base.url, href) for a non-empty href, or None where urljoin
    raises; the two fast shapes skip urljoin with the same result."""
    if not base.ok:
        return None
    if _ABSOLUTE_RE.fullmatch(href):
        return href
    if base.root is not None and _ROOTED_RE.fullmatch(href):
        return base.root + href
    try:
        return urljoin(base.url, href)
    except ValueError:
        return None


def _resolve(href: str, base: _Base | None) -> str | None:
    """The href→url rule (decode/skip/resolve/scheme-filter) against the
    page's effective base. Returns None for dropped hrefs."""
    if "&" in href:
        href = unescape(href)
    href = href.strip()
    if not href or href[0] == "#":
        return None
    if href.lower().startswith(_SKIP_SCHEMES):
        return None
    url = href if base is None else _join(base, href)
    if url is None or not url.lower().startswith(("http://", "https://")):
        return None
    return url


def _link_pass(s: str, base_url: str | None):
    """(outlinks, elements): the page's unique outlinks in first-seen
    order, and (url, body start, body end) of every closed <a> element
    whose href resolves.

    An opener whose token holds its quoted href value takes it from the
    scan; any other asks _StartTags, which would find the same one."""
    # (tag start, where the href value starts or 0, where a quoted value
    # taken by the scan ends or 0) per opener
    openers: list[tuple[int, int, int]] = []
    closers: list[int] = []
    closer_ends: list[int] = []
    bases: list[int] = []
    for m in _TOKEN_RE.finditer(s):
        k = m.lastindex
        if k == 3:
            closers.append(m.start())
            closer_ends.append(m.end())
        elif k == 4:
            bases.append(m.end())
        else:
            openers.append((m.start(), m.end(1) if k else 0, m.end(2) if k == 2 else 0))
    if bases:
        base_url = _page_base(s, base_url, bases)
    base = _Base(base_url) if base_url else None
    resolved: dict[str, str | None] = {}
    tags = _StartTags(s)
    tag_end, value_at, href_of = tags.end, tags.value, tags.href
    n = len(s)
    n_closers = len(closers)
    outlinks: list[str] = []
    seen: set[str] = set()
    elements: list[tuple[str, int, int]] = []
    out_pos = anchor_pos = 0
    for p, v, e in openers:
        body = 0  # where the element's body starts, if it has one
        if p >= anchor_pos and n_closers:
            g = tag_end(p + 2)
            if g < n:
                c = bisect_left(closers, g + 1)
                if c < n_closers:
                    body, body_end = g + 1, closers[c]
                    anchor_pos = closer_ends[c]
        want_out = p >= out_pos
        if not (want_out or body):
            continue
        if e:
            value, end = s[v + 1 : e - 1], e
        else:
            h = value_at(v) if v else href_of(p + 2)
            if h is None:
                continue
            value, end = h
        url = resolved.get(value, resolved)  # the dict itself: not resolved yet
        if url is resolved:
            url = resolved[value] = _resolve(value, base)
        if want_out:
            out_pos = end
            if url is not None and url not in seen:
                seen.add(url)
                outlinks.append(url)
        if body and url is not None:
            elements.append((url, body, body_end))
    return outlinks, elements


def _anchors(s: str, elements, valid) -> list[tuple[str, str]]:
    """(url, anchor text) of the elements whose url is in valid: the body
    with its tags as spaces, entities decoded once, whitespace canonical."""
    out = []
    append = out.append
    for url, i, j in elements:
        if url not in valid:
            continue
        inner = s[i:j]
        # a '<' after the body's last '>' opens no tag; leaving that tail
        # out of the regex keeps it from rescanning the tail per '<'
        k = inner.rfind(">") + 1
        if k:
            inner = _TAG_RE.sub(" ", inner[:k]) + inner[k:]
        if "&" in inner:
            inner = unescape(inner)
        append((url, " ".join(inner.split())))
    return out


def extract_link_faces(
    raw, base_url: str | None = None
) -> tuple[list[str], list[tuple[str, str]]]:
    """(extract_outlinks(raw, base_url), extract_anchors(raw, base_url))
    from one pass over the page. raw may also be the page decode_bytes
    already decoded (core.PageBatch.add returns it), or None."""
    s = _markup(raw)
    if s is None:
        return [], []
    outlinks, elements = _link_pass(s, base_url)
    return outlinks, _anchors(s, elements, set(outlinks))


def extract_outlinks(raw, base_url: str | None = None) -> list[str]:
    """All unique http(s) outlinks of a page, in first-seen order.

    - entity-decoded once (``&amp;`` → ``&``), matching the text spec's
      single-pass decode;
    - relative hrefs resolve against base_url (rooted, protocol-relative
      and path-relative forms all covered); without a base_url only
      absolute http(s) hrefs survive;
    - a declared <base href> overrides the page url per HTML semantics:
      the effective base is urljoin(base_url, first base href), so both
      absolute and relative base declarations resolve (ADVICE r04);
    - fragments-only, javascript:/mailto:/tel:/data: and empty hrefs drop,
      and so do hrefs urljoin cannot resolve;
    - PDF payloads have no markup → [] (the layout branch owns them).
    """
    s = _markup(raw)
    if s is None:
        return []
    return _link_pass(s, base_url)[0]


def extract_anchors(
    raw, base_url: str | None = None, valid: list[str] | None = None
) -> list[tuple[str, str]]:
    """All (target_url, anchor_text) pairs of a page, in document order,
    duplicates KEPT (anchor-text aggregation needs multiplicity).

    - href decoding / base-href override / scheme filtering are the exact
      outlink-spec rules, and a target must be one of the page's outlinks,
      so an anchor's target is always a url extract_outlinks emits;
    - only CLOSED <a …>…</a> elements yield anchors (an unclosed <a> has
      no delimitable text); nested markup inside the element is stripped
      to spaces, entities decoded once, whitespace canonicalized — the
      same canon rule the text spec uses — so anchor text may be '' for
      image-only anchors;
    - PDF / empty / None payloads → [] (no markup);
    - `valid`, when given, MUST be extract_outlinks(raw, base_url) for the
      same payload; it replaces the pass's own outlink set as the gate.
    """
    s = _markup(raw)
    if s is None:
        return []
    outlinks, elements = _link_pass(s, base_url)
    return _anchors(s, elements, set(outlinks if valid is None else valid))
