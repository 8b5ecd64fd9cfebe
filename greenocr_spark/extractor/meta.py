"""Page-metadata harvest: title, meta-robots, rel=canonical.

The page-level signals every Common-Crawl-style pipeline extracts next to
the main text: the title (dedup/snippet key), the robots directive
(noindex pages are excluded from training corpora), and the canonical
url (rel=canonical dedup collapses syndicated/parameterized duplicates
before any content hashing). Same contract as extractor/links.py: its
own single pass over the decoded markup, deterministic pure Python,
frozen text path untouched; the Spark operator is an Arrow-batched
wrapper (operators/meta.py).
"""

from __future__ import annotations

import re
from html import unescape
from urllib.parse import urljoin

from greenocr_spark.extractor.core import PDF_MAGIC, canon_ws, decode_bytes

_TITLE_RE = re.compile(r"<title[^>]*>(.*?)</title\s*>", re.IGNORECASE | re.DOTALL)
_META_RE = re.compile(r"<meta\b[^>]*>", re.IGNORECASE | re.DOTALL)
_LINK_RE = re.compile(r"<link\b[^>]*>", re.IGNORECASE | re.DOTALL)
_ATTR_RE = re.compile(
    r"\b([a-zA-Z-]+)\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s>]+))",
    re.DOTALL,
)


def _attrs(tag: str) -> dict:
    out = {}
    for m in _ATTR_RE.finditer(tag):
        key = m.group(1).lower()
        if key not in out:  # first occurrence wins, like browsers
            out[key] = unescape(m.group(2) or m.group(3) or m.group(4) or "")
    return out


def extract_meta(raw, base_url: str | None = None) -> dict:
    """(title, robots, noindex, canonical) of a page.

    - title: first <title> content, entity-decoded, whitespace-canonical
      (same canon_ws as the text spec); None if absent/empty;
    - robots: union of the tokens of EVERY <meta name=robots> in
      first-seen order (most-restrictive-wins — a later noindex still
      counts; ADVICE r04), lowercased with canonical spacing
      (``noindex, nofollow`` → ``noindex,nofollow``);
    - noindex: True iff the robots directive contains the noindex or none
      token (the exclusion rule for training corpora);
    - canonical: first <link rel=canonical href>, urljoin-resolved like
      the outlink spec; None if absent or non-http(s);
    - PDFs / empty payloads carry no markup metadata.
    """
    none = {"title": None, "robots": None, "noindex": False, "canonical": None}
    if raw is None:
        return none
    if isinstance(raw, (bytes, bytearray, memoryview)):
        b = bytes(raw)
        if not b or b.startswith(PDF_MAGIC):
            return none
        s = decode_bytes(b)
    else:
        s = raw
        if not s:
            return none

    title = None
    m = _TITLE_RE.search(s)
    if m:
        t = canon_ws(unescape(m.group(1)))
        title = t or None

    rtokens: list[str] = []
    for tag in _META_RE.findall(s):
        a = _attrs(tag)
        if a.get("name", "").strip().lower() == "robots":
            for p in a.get("content", "").lower().split(","):
                p = p.strip()
                if p and p not in rtokens:
                    rtokens.append(p)
    robots = ",".join(rtokens) or None
    noindex = bool(set(rtokens) & {"noindex", "none"})

    canonical = None
    for tag in _LINK_RE.findall(s):
        a = _attrs(tag)
        if a.get("rel", "").strip().lower() == "canonical":
            href = a.get("href", "").strip()
            if href:
                url = urljoin(base_url, href) if base_url else href
                if url.lower().startswith(("http://", "https://")):
                    canonical = url
            break

    return {
        "title": title,
        "robots": robots,
        "noindex": noindex,
        "canonical": canonical,
    }
