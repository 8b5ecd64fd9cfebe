"""Pure-Python main-content extraction core — the byte-identity spec.

This module is the single source of truth for what "extracted text" means.
The Spark pipeline (greenocr_spark.operators.extract) runs *these exact
functions* as one PageBatch per Arrow batch, and the pytest golden fixtures
are produced by extract_document, the one-page PageBatch — one code path,
so per-url byte identity between Spark output and the reference extractor
holds by construction (BASELINE.json input_hint). The ExtractorConfig is
applied only when a PageBatch is finished (score, classify, decode), so
calibration (plans/calibrate.py) tokenizes a batch once and finishes it
once per grid config. A PDF payload's span texts (extractor/pdf.py) enter
the batch as blocks too, all of them content, so one decode pass serves
every payload.

Semantic lineage (grafted from the reference, see SURVEY.md §2):
- decode_bytes        ~ grayscale decode        (reference exe_t.py:482,509)
- repair_markup       ~ Real-ESRGAN restoration (reference exe_t.py:485-499)
- tokenize_blocks     ~ pixel-column timesteps  (reference exe_t.py:509-511)
- score_blocks        ~ contrast stretch + unsharp mask
                        (reference exe_t.py:253-262, 299-300)
- classify            ~ CRNN per-timestep logits (reference exe_t.py:519-523)
- decode_blocks       ~ CTC greedy decode: drop blanks, merge runs
                        (reference exe_t.py:420-427)
- canon_ws            ~ ' '.join(text.split())  (reference exe_t.py:531-532)

Everything here is deterministic: float64 numpy, no wall clock, no RNG.
Only stdlib + numpy, so it runs identically on driver and executors.
"""

from __future__ import annotations

import codecs
import html as _htmlmod
import re
from dataclasses import dataclass
from itertools import repeat
from typing import NamedTuple

import numpy as np

# --------------------------------------------------------------------------
# Frozen scoring configuration (the "model weights" of the engine).
# Values mirror the reference's restoration constants where an analog exists:
# contrast percentiles 1/99 (exe_t.py:233), sharpen 1.5 (exe_t.py:232).
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class ExtractorConfig:
    contrast_lo: float = 1.0  # percentile, reference contrast_clip=(0.01,0.99)
    contrast_hi: float = 99.0
    smooth_kernel: tuple = (0.25, 0.5, 0.25)  # 3-tap neighborhood (gaussian_blur2d analog)
    sharpen: float = 1.5  # unsharp-mask coefficient (exe_t.py:232)
    threshold: float = 0.30  # content decision boundary on sharpened score
    neargood_chars: float = 30.0  # jusText-style promotion floor: a block with
    # at least this much raw signal (effective chars) whose smoothed
    # neighborhood passes the threshold is promoted to content
    min_chars: int = 15  # minimum canon text length for content
    max_link_density: float = 0.67  # link-farm gate (Laplacian edge channel analog)
    boiler_tag_penalty: float = 0.2  # prior multiplier for nav/footer-ish tags


DEFAULT_CONFIG = ExtractorConfig()

# Block-level tags: opening/closing one flushes the current text run into a
# block (the "one pixel column per CTC timestep" unit of SURVEY.md §1.1).
BLOCK_TAGS = frozenset(
    """p div h1 h2 h3 h4 h5 h6 li ul ol dl dt dd table thead tbody tr td th
    section article header footer nav aside main blockquote pre form figure
    figcaption br hr title body html head option select button""".split()
)
# Void block tags: flush but never enter the context stack.
VOID_TAGS = frozenset({"br", "hr"})
# Elements removed wholesale (content and all) during markup repair.
DROP_ELEMENTS = ("script", "style", "noscript", "template")
# Tag contexts carrying a strong boilerplate prior.
BOILER_TAGS = frozenset({"nav", "header", "footer", "aside", "form", "title", "figcaption", "option", "select", "button", "head"})

PDF_MAGIC = b"%PDF-"  # the payload router: functions/sqlfns.pdf_magic_expr is its JVM form
# the class of every span: only content blocks are decoded
CONTENT = "content"

_CHARSET_RE = re.compile(rb"charset\s*=\s*[\"']?([A-Za-z0-9_\-]+)", re.IGNORECASE)
_COMMENT_RE = re.compile(r"<!--.*?(?:-->|$)", re.DOTALL)
# A drop element is the frozen form `<name\b[^>]*>.*?(?:</name\s*>|$)`
# (IGNORECASE, DOTALL): its opener, the opener's first '>', then up to the
# first closer, else to the end of the page (`$` also matches before a
# final '\n'). (opener, closer) per element; _drop finds each once.
_DROP_RES = [
    (re.compile(rf"<{name}\b", re.IGNORECASE), re.compile(rf"</{name}\s*>", re.IGNORECASE))
    for name in DROP_ELEMENTS
]
# Every opener of repair's passes in one scan: the comment's (group 1), then
# each drop element's (group 2 + its index in DROP_ELEMENTS), with the same
# IGNORECASE folds as the passes' own patterns (ſ for s, İ and ı for i, the
# Kelvin sign for k). The lookahead on the openers' first chars only lets
# the scan pass over every other '<' at half the cost of trying each opener.
_OPENERS_RE = re.compile(
    "<(?=[!%s])(?:(!--)|%s)"
    % ("".join(sorted({name[0] for name in DROP_ELEMENTS})), "|".join(f"({name})" for name in DROP_ELEMENTS)),
    re.IGNORECASE,
)
_CTRL_RE = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")
# the 30 chars _CTRL_RE matches: one `in` test each scans a page far faster
# than _CTRL_RE.search does
_CTRL_CHARS = "".join(map(chr, [*range(0x00, 0x09), 0x0B, 0x0C, *range(0x0E, 0x20), 0x7F]))
# One pass captures each tag's span and, in one group, its slash and name:
# "p", "/p", "/ P" (group None for <!DOCTYPE ...>, <?xml ...>, stray junk).
# The prefix `\s*(/?\s*name)?` only ever consumes non-'>' characters, so
# the matched spans are exactly those of the plain `<[^>]*>` form
# (byte-identical segmentation).
_TAG_RE = re.compile(r"<\s*(/?\s*[a-zA-Z][a-zA-Z0-9\-]*)?[^>]*>")


def canon_ws(s: str) -> str:
    """Canonical whitespace: collapse all unicode whitespace runs to a single
    space and strip ends — the byte-identity surface (exe_t.py:531-532)."""
    return " ".join(s.split())


# Memo for cleaned text runs. Web corpora repeat the same boilerplate runs
# (nav labels, footer legalese, titles) across every page of a host, so
# the unescape+ctrl-strip+canon_ws chain keeps re-cleaning identical
# strings. clean() is a pure function, so memoizing it is byte-identical
# by construction (pinned by the fixture-corpus hash gate). Keys are
# capped in length (long runs are article body text, rarely repeated).
# The memo lives for the Python worker's lifetime (the cluster analog is a
# per-executor cache), and a full memo is emptied rather than frozen, so
# a reused worker keeps memoizing the hosts it meets later.
_CLEAN_CACHE: dict = {}
_CLEAN_CACHE_MAX = 1 << 16
_CLEAN_KEY_MAX = 512


def _canonical(raw: str) -> bool:
    """Whether canon_ws(raw) is raw, for a run with no control char: such
    an ASCII run's only whitespace chars are ' ', '\\t', '\\n' and '\\r', so
    without the last three, a space at either end or a double space,
    canon_ws returns it unchanged."""
    return raw.isascii() and not (
        raw[:1] == " " or raw[-1:] == " " or "  " in raw or "\n" in raw or "\t" in raw or "\r" in raw
    )


def _clean_run(raw: str, ctrl: bool) -> str:
    """clean(raw): unescape, strip control chars, canon_ws. ctrl=False
    promises that raw holds no control char (its page has none).

    Pure fast paths, byte-identical: unescape is the identity without '&'.
    It can make a control char (html.unescape("&#12;") == "\\x0c"), so the
    strip is skipped only for a run with no '&' on a page with no control
    char; a canonical run skips canon_ws."""
    if "&" in raw:
        raw = _CTRL_RE.sub("", _htmlmod.unescape(raw))
    elif ctrl:
        raw = _CTRL_RE.sub("", raw)
    return raw if _canonical(raw) else canon_ws(raw)


def _clean_cached(raw: str, ctrl: bool) -> str:
    if len(raw) > _CLEAN_KEY_MAX:
        return _clean_run(raw, ctrl)
    text = _CLEAN_CACHE.get(raw)
    if text is None:
        text = _clean_run(raw, ctrl)
        if len(_CLEAN_CACHE) >= _CLEAN_CACHE_MAX:
            _CLEAN_CACHE.clear()
        _CLEAN_CACHE[raw] = text
    return text


def decode_bytes(raw: bytes) -> str:
    """Charset-sniffing byte decode (grayscale-conversion analog).

    Deterministic fallback chain: BOM → declared charset in the first 2048
    bytes → utf-8 → latin-1 (which never fails)."""
    if not raw:
        return ""
    if raw.startswith(b"\xef\xbb\xbf"):
        return raw[3:].decode("utf-8", errors="replace")
    if raw.startswith(b"\xff\xfe") or raw.startswith(b"\xfe\xff"):
        # the "utf-16" codec consumes the BOM (a bare -le/-be decode would
        # leak U+FEFF into the first text block)
        return raw.decode("utf-16", errors="replace")
    m = _CHARSET_RE.search(raw[:2048])
    if m:
        name = m.group(1).decode("ascii", errors="replace").lower()
        try:
            codec = codecs.lookup(name)
            return raw.decode(codec.name, errors="strict")
        except (LookupError, UnicodeDecodeError):
            pass
    try:
        return raw.decode("utf-8", errors="strict")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


def repair_markup(s: str) -> str:
    """Signal restoration for degraded markup (Real-ESRGAN analog):
    drop comments and script/style/noscript/template elements wholesale
    (tolerating a missing close tag — 'unclosed' degradation case).

    One scan finds which passes' openers occur in the page, and only those
    passes run. That is exact: a pass only replaces text that starts with
    '<' by one space, so it never makes an opener that was not in the
    page, and a pass whose opener is absent returns the page unchanged."""
    found = {m.lastindex for m in _OPENERS_RE.finditer(s)}
    if 1 in found:
        s = _COMMENT_RE.sub(" ", s)
    for group, (opener, closer) in enumerate(_DROP_RES, 2):
        if group in found:
            s = _drop(s, opener, closer)
    return s


def _drop(s: str, opener: re.Pattern, closer: re.Pattern) -> str:
    """re.sub(" ", s) of one drop element's frozen form, in linear time.

    The regex rescans from every opener with no '>' after it to the end of
    the page. Here each opener's '>' and closer is searched for once, and
    the first opener with no '>' ends the pass: no later one has a '>'."""
    out = []
    pos = 0
    while (m := opener.search(s, pos)) is not None:
        gt = s.find(">", m.end())
        if gt < 0:
            break
        out += (s[pos : m.start()], " ")
        c = closer.search(s, gt + 1)
        if c is None:
            # `$`: the element runs to the end, or to a final '\n' (which
            # cannot be the opener's '>')
            pos = len(s) - 1 if s.endswith("\n") else len(s)
            break
        pos = c.end()
    out.append(s[pos:])
    return "".join(out)


class Blocks:
    """The flat DOM array, as parallel columns: each block's context tag,
    cleaned text and link chars."""

    __slots__ = ("tags", "texts", "link_chars")

    def __init__(self, tags: list, texts: list, link_chars: list):
        self.tags = tags
        self.texts = texts
        self.link_chars = link_chars

    def __len__(self) -> int:
        return len(self.texts)


# What a tag does to tokenize's state, by its kind in _tag_action
_OTHER, _A_OPEN, _A_CLOSE, _BLOCK_OPEN, _BLOCK_CLOSE, _VOID = range(6)
# Memo from a tag's raw slash-and-name group ("P", "/p", "/ Div") to
# _tag_action of it. Pages reuse a few spellings, so a tag costs one
# lookup; a page of made-up names cannot grow it past its cap.
_TAG_ACTIONS: dict = {}
_TAG_ACTIONS_MAX = 1 << 12


def _tag_action(raw: str) -> tuple:
    """(kind, lower-case name) of a tag from its raw slash-and-name group,
    memoized in _TAG_ACTIONS."""
    name = raw.lstrip("/").lstrip().lower()
    closing = raw[0] == "/"
    if name == "a":
        action = (_A_CLOSE if closing else _A_OPEN, name)
    elif name in VOID_TAGS:
        action = (_VOID, name)
    elif name in BLOCK_TAGS:
        action = (_BLOCK_CLOSE if closing else _BLOCK_OPEN, name)
    else:
        action = (_OTHER, name)
    if len(_TAG_ACTIONS) >= _TAG_ACTIONS_MAX:
        _TAG_ACTIONS.clear()
    _TAG_ACTIONS[raw] = action
    return action


def tokenize_blocks(markup: str) -> Blocks:
    """Tokenize repaired markup into the flat DOM array of blocks.

    Tolerant by construction: unbalanced tags can't break it because tags are
    treated as separators/context switches, never required to nest. Entities
    are decoded per text segment (single pass — double-encoded entities
    surface their one-level-decoded form, frozen spec).

    Hot path, byte-identical by tests/test_core.py and the fixture-corpus
    hash gates:
    - one _TAG_RE.split() does the whole segmentation in C; the list
      alternates [text, slash-and-name, text, ...] and is walked two parts
      at a time;
    - each tag's kind and name come from one _TAG_ACTIONS lookup of its
      raw slash-and-name group;
    - text runs and link-text runs accumulate in two flat string lists,
      and blocks go straight into three column lists (no per-block
      objects, no flush call);
    - a closing block tag pops the open-tag stack down to its name only
      when the name is open, which a count per name answers in O(1), so
      unmatched closers under a deep stack cost linear time;
    - the page is tested for control chars once; on a page with none, a
      run with no '&' in canonical form (_canonical) is its own text and
      skips the memo, whose hashing and storing would cost more than the
      test."""
    tags: list = []
    texts: list = []
    link_chars: list = []
    seg_texts: list = []  # all text accumulated since the last block tag
    seg_links: list = []  # the subset that was inside <a> context
    stack: list = []  # open block-tag context
    open_count: dict = {}  # how often each name is on the stack
    link_depth = 0

    ctrl = any(c in markup for c in _CTRL_CHARS)
    plain = not ctrl
    clean, canonical = _clean_cached, _canonical
    actions = _TAG_ACTIONS
    seg_append = seg_texts.append
    link_append = seg_links.append
    # no tag can start after the last '>', but each '<' there would rescan
    # to the end: split up to it and give the tail to the last text run
    # (the same parts, in linear time)
    k = markup.rfind(">") + 1
    parts = _TAG_RE.split(markup[:k])
    parts[-1] += markup[k:]
    parts += ("/br", "")  # a closing void block tag flushes the last run
    it = iter(parts)
    first = next(it)
    if first:
        seg_append(first)
    for tag, trailing in zip(it, it):
        # tag is None for <!DOCTYPE ...>, <?xml ...>, stray junk: the tag
        # is a pure separator, only its trailing text matters
        if tag is not None:
            kind, name = actions.get(tag) or _tag_action(tag)
            if kind >= _BLOCK_OPEN:
                if seg_texts:
                    raw = "".join(seg_texts)
                    # a run with nothing to clean is its own text, without
                    # the memo; a whitespace-only run cleans to ''
                    if plain and "&" not in raw and canonical(raw):
                        text = raw
                    else:
                        text = "" if raw.isspace() else clean(raw, ctrl)
                    if text:
                        tags.append(stack[-1] if stack else "body")
                        texts.append(text)
                        if seg_links:
                            raw = " ".join(seg_links)
                            link_chars.append(len(raw if plain and "&" not in raw and canonical(raw) else clean(raw, ctrl)))
                        else:
                            link_chars.append(0)
                    seg_texts.clear()
                    seg_links.clear()
                link_depth = 0
                if kind == _BLOCK_OPEN:
                    stack.append(name)
                    open_count[name] = open_count.get(name, 0) + 1
                elif kind == _BLOCK_CLOSE and open_count.get(name):
                    while (top := stack.pop()) != name:
                        open_count[top] -= 1
                    open_count[name] -= 1
            elif kind == _A_OPEN:
                link_depth += 1
            elif kind == _A_CLOSE and link_depth:
                link_depth -= 1
        if trailing:
            seg_append(trailing)
            if link_depth:
                link_append(trailing)
    return Blocks(tags, texts, link_chars)


def _pctl_linear(srt: np.ndarray, first: np.ndarray, count: np.ndarray, pct: float) -> np.ndarray:
    """np.percentile(method='linear') of every segment srt[first:first + count]
    (count >= 1, each segment sorted), all in one pass and bit-for-bit:
    numpy's _lerp, including its t >= 0.5 symmetric branch, without the
    generic dispatch per segment (tests/test_core.py pins equality against
    np.percentile)."""
    v = (pct / 100.0) * (count - 1)
    f = v.astype(np.int64)  # floor: v >= 0
    t = v - f
    a = srt[first + f]
    b = srt[first + np.minimum(f + 1, count - 1)]
    d = b - a
    return np.where(t >= 0.5, b - d * (1 - t), a + d * t)


def score_pages(blocks: Blocks, bounds, cfg: ExtractorConfig = DEFAULT_CONFIG) -> dict:
    """Per-block content score channels in [0,1], float64, for a batch of
    pages in one pass. blocks holds the pages' blocks back to back: page p's
    are blocks[bounds[p]:bounds[p + 1]], and each page is scored on its own.

    raw signal  = n_chars * (1 - link_density) * tag_prior   (text density)
    norm        = 1%/99% percentile contrast stretch, per page (exe_t.py:253-262)
    smooth      = 3-tap neighborhood average within the page (gaussian analog)
    sharp       = clip(norm + 1.5*(norm - smooth), 0, 1)      (exe_t.py:299-300)

    Returns dict of equal-length float64 arrays {raw, norm, smooth, sharp},
    plus the n_chars and link_density columns that classify_blocks gates
    on. The numpy calls are per batch, not per page:
    one sort keyed by page, and each page's percentiles, degenerate test
    and smoothing edges come from its offsets."""
    n = len(blocks)
    if n == 0:
        z = np.zeros(0, dtype=np.float64)
        return {"raw": z, "norm": z, "smooth": z, "sharp": z, "n_chars": z, "link_density": z}
    n_chars = np.fromiter(map(len, blocks.texts), dtype=np.float64, count=n)
    density = np.minimum(1.0, np.array(blocks.link_chars, dtype=np.float64) / n_chars)
    penalty = cfg.boiler_tag_penalty
    prior = np.array([penalty if t in BOILER_TAGS else 1.0 for t in blocks.tags], dtype=np.float64)
    raw = n_chars * (1.0 - density) * prior
    # the pages that have blocks, as (first, count) segments of the columns
    bounds = np.asarray(bounds, dtype=np.int64)
    count = np.diff(bounds)
    pages = np.flatnonzero(count)
    first, count = bounds[pages], count[pages]
    seg = np.repeat(np.arange(pages.size), count)
    srt = raw[np.lexsort((raw, seg))]
    lo = _pctl_linear(srt, first, count, cfg.contrast_lo)
    hi = _pctl_linear(srt, first, count, cfg.contrast_hi)
    width = hi - lo
    with np.errstate(divide="ignore", invalid="ignore"):
        stretched = np.clip((raw - lo[seg]) / width[seg], 0.0, 1.0)
    # degenerate page (all blocks equal): any positive signal is "bright"
    norm = np.where((width < 1e-9)[seg], (raw > 0).astype(np.float64), stretched)
    # each page's first and last block are their own outer neighbours
    left = np.concatenate((norm[:1], norm[:-1]))
    left[first] = norm[first]
    right = np.concatenate((norm[1:], norm[-1:]))
    last = first + count - 1
    right[last] = norm[last]
    k0, k1, k2 = cfg.smooth_kernel
    smooth = k0 * left + k1 * norm + k2 * right
    sharp = np.clip(norm + cfg.sharpen * (norm - smooth), 0.0, 1.0)
    return {"raw": raw, "norm": norm, "smooth": smooth, "sharp": sharp, "n_chars": n_chars, "link_density": density}


def score_blocks(blocks: Blocks, cfg: ExtractorConfig = DEFAULT_CONFIG) -> dict:
    """score_pages of one page."""
    return score_pages(blocks, (0, len(blocks)), cfg)


def classify_blocks(blocks: Blocks, scores: dict, cfg: ExtractorConfig = DEFAULT_CONFIG) -> np.ndarray:
    """Class per block: 1=content, 0=boilerplate ('blank'). Per block, so
    it classifies a batch of pages (score_pages' columns) as it does one.

    A block is content if it passes the hard gates (min length, link density)
    and either its sharpened score clears the threshold, or — jusText-style
    neargood→good promotion — it has enough raw signal of its own
    (≥ neargood_chars effective chars) while its smoothed neighborhood
    clears the threshold."""
    if len(blocks) == 0:
        return np.zeros(0, dtype=np.int64)
    gates = (scores["n_chars"] >= cfg.min_chars) & (scores["link_density"] <= cfg.max_link_density)
    good = scores["sharp"] >= cfg.threshold
    promoted = (scores["raw"] >= cfg.neargood_chars) & (scores["smooth"] >= cfg.threshold)
    return ((good | promoted) & gates).astype(np.int64)


def decode_pages(texts: list, cls: np.ndarray, bounds):
    """CTC-style decode of a batch of pages in one pass: each page keeps
    its content ('non-blank') blocks in document order, joined with single
    spaces. texts holds the pages' block texts back to back (page p's are
    texts[bounds[p]:bounds[p + 1]]).

    Returns (page_texts, span_bounds, block_idx, start, end): page p's
    spans are rows span_bounds[p] to span_bounds[p + 1] of the int64
    columns block_idx (the block's index in its page), start and end (char
    offsets into its page's text); every span's class is "content"."""
    bounds = np.asarray(bounds, dtype=np.int64)
    keep = np.flatnonzero(np.asarray(cls) == 1)
    cut = np.searchsorted(keep, bounds)  # page p keeps keep[cut[p]:cut[p + 1]]
    kept = [texts[i] for i in keep.tolist()]
    page = np.repeat(np.arange(cut.size - 1), np.diff(cut))
    step = np.fromiter(map(len, kept), dtype=np.int64, count=len(kept)) + 1  # text + joining space
    at = np.cumsum(step) - step  # offsets in the join of all kept texts
    start = at - at[cut[page]]
    cut_at = cut.tolist()
    page_texts = [" ".join(kept[a:b]) for a, b in zip(cut_at, cut_at[1:])]
    return page_texts, cut, keep - bounds[page], start, start + step - 1


def decode_blocks(blocks: Blocks, cls: np.ndarray):
    """decode_pages of one page: (text, spans), spans a list of
    (block_idx, start, end, cls) tuples."""
    # a page with no blocks may come as any empty sequence
    texts = blocks.texts if len(blocks) else ()
    (text,), _, block_idx, start, end = decode_pages(texts, cls, (0, len(texts)))
    return text, list(zip(block_idx.tolist(), start.tolist(), end.tolist(), repeat(CONTENT)))


class PageBatch:
    """Pages extracted together. add() runs one page's own stages (route;
    decode → repair → tokenize, or the PDF layout parse) and keeps only
    its block columns, not the decoded page; none of them reads the
    config. finish(cfg) scores, classifies and decodes every page's blocks
    at once under cfg (score_pages → classify_blocks → decode_pages) into
    fresh columns, so one batch can be finished under several configs.
    Every block of a PDF page is content, under any config.
    extract_document is the one-page batch."""

    def __init__(self):
        self.tags: list = []
        self.texts: list = []
        self.link_chars: list = []
        self.bounds = [0]  # page p's blocks are [bounds[p], bounds[p + 1])
        self.kinds: list = []
        self.pdf_pages: list = []  # the PDF pages' indices

    def add(self, raw) -> str | None:
        """Route one document payload: PDF magic → layout-parse branch
        (ENHANCMENT24.py:93-107 analog); empty/null → empty result; else
        HTML. Returns the decode_bytes(raw) the HTML path read, so the link
        faces need not decode the page again, and None for PDF and empty
        payloads."""
        if raw is None or len(raw) == 0:
            self._add_page("empty")
            return None
        raw = bytes(raw)
        if raw.startswith(PDF_MAGIC):
            from greenocr_spark.extractor.pdf import pdf_blocks

            # finish() keeps every block of a PDF page, so its tags and link
            # chars, which only feed the scores, are placeholders
            texts = pdf_blocks(raw)
            blocks, kind, markup = Blocks(["body"] * len(texts), texts, [0] * len(texts)), "pdf", None
            self.pdf_pages.append(len(self.kinds))
        else:
            markup = decode_bytes(raw)
            blocks, kind = tokenize_blocks(repair_markup(markup)), "html"
        self.tags += blocks.tags
        self.texts += blocks.texts
        self.link_chars += blocks.link_chars
        self._add_page(kind)
        return markup

    def _add_page(self, kind: str) -> None:
        self.kinds.append(kind)
        self.bounds.append(len(self.texts))

    def finish(self, cfg: ExtractorConfig = DEFAULT_CONFIG) -> "Extracted":
        blocks = Blocks(self.tags, self.texts, self.link_chars)
        cls = classify_blocks(blocks, score_pages(blocks, self.bounds, cfg), cfg)
        for p in self.pdf_pages:
            cls[self.bounds[p] : self.bounds[p + 1]] = 1
        texts, span_bounds, block_idx, start, end = decode_pages(self.texts, cls, self.bounds)
        return Extracted(texts, self.kinds, np.diff(self.bounds), np.diff(span_bounds), span_bounds, block_idx, start, end)


class Extracted(NamedTuple):
    """A finished PageBatch as columns, one entry per page: text, kind,
    n_blocks, n_content (n_boilerplate is n_blocks - n_content). Page p's
    spans are rows span_bounds[p] to span_bounds[p + 1] of the span
    columns block_idx, start and end; every span's class is CONTENT."""

    text: list
    kind: list
    n_blocks: np.ndarray
    n_content: np.ndarray
    span_bounds: np.ndarray
    block_idx: np.ndarray
    start: np.ndarray
    end: np.ndarray

    def row(self, i: int) -> dict:
        """Page i's result, as extract_document returns it."""
        a, b = self.span_bounds[i : i + 2].tolist()
        spans = list(
            zip(self.block_idx[a:b].tolist(), self.start[a:b].tolist(), self.end[a:b].tolist(), repeat(CONTENT))
        )
        n_blocks, n_content = int(self.n_blocks[i]), int(self.n_content[i])
        return {
            "text": self.text[i],
            "spans": spans,
            "n_blocks": n_blocks,
            "n_content": n_content,
            "n_boilerplate": n_blocks - n_content,
            "kind": self.kind[i],
        }


def extract_document(raw, cfg: ExtractorConfig = DEFAULT_CONFIG):
    """The extracted result of one document payload: a one-page PageBatch."""
    batch = PageBatch()
    batch.add(raw)
    return batch.finish(cfg).row(0)
