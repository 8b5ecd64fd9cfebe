"""Pure-Python main-content extraction core — the byte-identity spec.

This module is the single source of truth for what "extracted text" means.
The Spark pipeline (greenocr_spark.operators.extract) calls *these exact
functions* inside Arrow-batched pandas UDFs, and the pytest golden fixtures
are produced by calling them directly — one code path, so per-url byte
identity between Spark output and the reference extractor holds by
construction (BASELINE.json input_hint).

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

PDF_MAGIC = b"%PDF-"

_CHARSET_RE = re.compile(rb"charset\s*=\s*[\"']?([A-Za-z0-9_\-]+)", re.IGNORECASE)
_COMMENT_RE = re.compile(r"<!--.*?(?:-->|$)", re.DOTALL)
_DROP_RES = [
    re.compile(rf"<{name}\b[^>]*>.*?(?:</{name}\s*>|$)", re.IGNORECASE | re.DOTALL)
    for name in DROP_ELEMENTS
]
_CTRL_RE = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")
# One pass captures span + closing-slash + tag name. The prefix
# `\s*(/?)\s*(name)?` only ever consumes non-'>' characters, so the matched
# spans are exactly those of the plain `<[^>]*>` form (byte-identical
# segmentation); group(2) is None for <!DOCTYPE ...>, <?xml ...>, stray junk.
_TAG_RE = re.compile(r"<\s*(/?)\s*([a-zA-Z][a-zA-Z0-9\-]*)?[^>]*>")


def canon_ws(s: str) -> str:
    """Canonical whitespace: collapse all unicode whitespace runs to a single
    space and strip ends — the byte-identity surface (exe_t.py:531-532)."""
    return " ".join(s.split())


# Memo for cleaned text runs (round-3 speedup). Web corpora repeat the same
# boilerplate runs (nav labels, footer legalese, titles) across every page of
# a host, so the unescape+ctrl-strip+canon_ws chain keeps re-cleaning
# identical strings. clean() is a pure function, so memoizing it is
# byte-identical by construction (pinned by the fixture-corpus hash gate).
# Keys are capped in length (long runs are article body text, rarely
# repeated) and the dict is capped in size; it lives for the Python worker's
# lifetime — the cluster analog is a per-executor cache.
_CLEAN_CACHE: dict = {}
_CLEAN_CACHE_MAX = 1 << 16
_CLEAN_KEY_MAX = 512


def _clean_run(raw: str) -> str:
    # unescape is the identity without '&'; skipping it (and the ctrl
    # scan on short clean text) is a pure fast path, byte-identical
    if "&" in raw:
        raw = _htmlmod.unescape(raw)
    return canon_ws(_CTRL_RE.sub("", raw))


def _clean_cached(raw: str) -> str:
    if len(raw) > _CLEAN_KEY_MAX:
        return _clean_run(raw)
    text = _CLEAN_CACHE.get(raw)
    if text is None:
        text = _clean_run(raw)
        if len(_CLEAN_CACHE) < _CLEAN_CACHE_MAX:
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
    (tolerating a missing close tag — 'unclosed' degradation case)."""
    s = _COMMENT_RE.sub(" ", s)
    for rx in _DROP_RES:
        s = rx.sub(" ", s)
    return s


class Block:
    """One flat-DOM block (a CTC timestep)."""

    __slots__ = ("pos", "tag", "text", "n_chars", "link_density")

    def __init__(self, pos: int, tag: str, text: str, link_chars: int):
        self.pos = pos
        self.tag = tag
        self.text = text
        self.n_chars = len(text)
        self.link_density = min(1.0, link_chars / self.n_chars) if self.n_chars else 0.0


def tokenize_blocks(markup: str) -> list:
    """Tokenize repaired markup into the flat DOM array of blocks.

    Tolerant by construction: unbalanced tags can't break it because tags are
    treated as separators/context switches, never required to nest. Entities
    are decoded per text segment (single pass — double-encoded entities
    surface their one-level-decoded form, frozen spec).

    Hot path (round-2 rewrite, byte-identical by tests/test_core.py +
    the fixture-corpus hash gate): one _TAG_RE.split() does the whole
    segmentation in C — the list alternates [text, slash, name, text, ...]
    — replacing the finditer loop's per-match Match objects, .group()
    calls and markup[pos:start] slicing. Text runs and link-text runs
    accumulate in two flat string lists (no per-segment tuples)."""
    blocks: list = []
    seg_texts: list = []  # all text accumulated since last flush
    seg_links: list = []  # the subset that was inside <a> context
    stack: list = []  # open block-tag context
    link_depth = 0
    idx = 0

    clean = _clean_cached

    def flush():
        nonlocal link_depth, idx
        if seg_texts:
            raw = "".join(seg_texts)
            # whitespace-only runs between tags are the common case; their
            # cleaned form is always '' (no '&' ⇒ no unescape surprises)
            if raw and not (raw.isspace() and "&" not in raw):
                text = clean(raw)
                if text:
                    link_chars = len(clean(" ".join(seg_links))) if seg_links else 0
                    tag = stack[-1] if stack else "body"
                    blocks.append(Block(idx, tag, text, link_chars))
                    idx += 1
            del seg_texts[:]
            del seg_links[:]
        link_depth = 0

    texts_append = seg_texts.append
    links_append = seg_links.append
    block_tags, void_tags = BLOCK_TAGS, VOID_TAGS
    # no tag can start after the last '>', but each '<' there would rescan
    # to the end: split up to it and give the tail to the last text run
    # (the same parts, in linear time)
    k = markup.rfind(">") + 1
    parts = _TAG_RE.split(markup[:k])
    parts[-1] += markup[k:]
    if parts[0]:
        texts_append(parts[0])
    i, n = 1, len(parts)
    while i < n:
        slash = parts[i]
        name = parts[i + 1]
        trailing = parts[i + 2]
        i += 3
        # name is None for <!DOCTYPE ...>, <?xml ...>, stray junk: the tag
        # is a pure separator, only its trailing text matters
        if name is not None:
            name = name.lower()
            if name == "a":
                if slash:
                    if link_depth:
                        link_depth -= 1
                else:
                    link_depth += 1
            elif name in block_tags:
                if seg_texts or link_depth:
                    flush()  # no-op otherwise; guard skips the call overhead
                if name not in void_tags:
                    if slash:
                        if name in stack:
                            while stack and stack.pop() != name:
                                pass
                    else:
                        stack.append(name)
        if trailing:
            texts_append(trailing)
            if link_depth:
                links_append(trailing)
    flush()
    return blocks


def _pctl_linear(sorted_a: np.ndarray, pct: float) -> float:
    """np.percentile(method='linear') on an already-sorted float64 array,
    bit-for-bit (replicates numpy's _lerp incl. the t>=0.5 symmetric branch)
    without the generic dispatch overhead — percentile was 15% of extraction
    CPU (tests/test_core.py pins equality against np.percentile)."""
    n = sorted_a.size
    v = (pct / 100.0) * (n - 1)
    f = int(v)  # v >= 0 always
    c = f + 1 if f + 1 < n else n - 1
    t = v - f
    a = sorted_a[f]
    b = sorted_a[c]
    d = b - a
    if t >= 0.5:
        return float(b - d * (1 - t))
    return float(a + d * t)


def score_blocks(blocks: list, cfg: ExtractorConfig = DEFAULT_CONFIG) -> dict:
    """Per-block content score channels in [0,1], float64.

    raw signal  = n_chars * (1 - link_density) * tag_prior   (text density)
    norm        = 1%/99% percentile contrast stretch          (exe_t.py:253-262)
    smooth      = 3-tap neighborhood average                  (gaussian analog)
    sharp       = clip(norm + 1.5*(norm - smooth), 0, 1)      (exe_t.py:299-300)

    Returns dict of equal-length float64 arrays {norm, smooth, sharp}.
    """
    n = len(blocks)
    if n == 0:
        z = np.zeros(0, dtype=np.float64)
        return {"raw": z, "norm": z, "smooth": z, "sharp": z}
    raw = np.fromiter(
        (
            b.n_chars
            * (1.0 - b.link_density)
            * (cfg.boiler_tag_penalty if b.tag in BOILER_TAGS else 1.0)
            for b in blocks
        ),
        dtype=np.float64,
        count=n,
    )
    srt = np.sort(raw)
    lo = _pctl_linear(srt, cfg.contrast_lo)
    hi = _pctl_linear(srt, cfg.contrast_hi)
    if hi - lo < 1e-9:
        # degenerate doc (all blocks equal): any positive signal is "bright"
        norm = (raw > 0).astype(np.float64)
    else:
        norm = np.clip((raw - lo) / (hi - lo), 0.0, 1.0)
    k0, k1, k2 = cfg.smooth_kernel
    padded = np.concatenate(([norm[0]], norm, [norm[-1]]))
    smooth = k0 * padded[:-2] + k1 * padded[1:-1] + k2 * padded[2:]
    sharp = np.clip(norm + cfg.sharpen * (norm - smooth), 0.0, 1.0)
    return {"raw": raw, "norm": norm, "smooth": smooth, "sharp": sharp}


def classify_blocks(blocks: list, scores: dict, cfg: ExtractorConfig = DEFAULT_CONFIG) -> np.ndarray:
    """Class per block: 1=content, 0=boilerplate ('blank').

    A block is content if it passes the hard gates (min length, link density)
    and either its sharpened score clears the threshold, or — jusText-style
    neargood→good promotion — it has enough raw signal of its own
    (≥ neargood_chars effective chars) while its smoothed neighborhood
    clears the threshold."""
    if len(blocks) == 0:
        return np.zeros(0, dtype=np.int64)
    gates = np.fromiter(
        (b.n_chars >= cfg.min_chars and b.link_density <= cfg.max_link_density for b in blocks),
        dtype=bool,
        count=len(blocks),
    )
    good = scores["sharp"] >= cfg.threshold
    promoted = (scores["raw"] >= cfg.neargood_chars) & (scores["smooth"] >= cfg.threshold)
    return ((good | promoted) & gates).astype(np.int64)


def decode_blocks(blocks: list, cls: np.ndarray):
    """CTC-style decode: keep content ('non-blank') blocks in document order,
    join with single spaces, record per-block spans (char offsets into the
    final text). Returns (text, spans) where spans is a list of
    (block_idx, start, end, cls) tuples."""
    parts = []
    spans = []
    off = 0
    for b, c in zip(blocks, cls):
        if c != 1:
            continue
        if parts:
            off += 1  # joining space
        start = off
        parts.append(b.text)
        off += len(b.text)
        spans.append((int(b.pos), int(start), int(off), "content"))
    return " ".join(parts), spans


def extract_html(raw: bytes, cfg: ExtractorConfig = DEFAULT_CONFIG):
    """Full HTML path: decode → repair → tokenize → score → classify → decode."""
    markup = repair_markup(decode_bytes(raw))
    blocks = tokenize_blocks(markup)
    scores = score_blocks(blocks, cfg)
    cls = classify_blocks(blocks, scores, cfg)
    text, spans = decode_blocks(blocks, cls)
    n_content = int(cls.sum()) if len(cls) else 0
    return {
        "text": text,
        "spans": spans,
        "n_blocks": len(blocks),
        "n_content": n_content,
        "n_boilerplate": len(blocks) - n_content,
        "kind": "html",
    }


def extract_document(raw, cfg: ExtractorConfig = DEFAULT_CONFIG):
    """Route one document payload: PDF magic → layout-parse branch
    (ENHANCMENT24.py:93-107 analog); empty/null → empty result; else HTML."""
    if raw is None or len(raw) == 0:
        return {"text": "", "spans": [], "n_blocks": 0, "n_content": 0, "n_boilerplate": 0, "kind": "empty"}
    raw = bytes(raw)
    if raw.startswith(PDF_MAGIC):
        from greenocr_spark.extractor import pdf as _pdf

        return _pdf.extract_pdf(raw)
    return extract_html(raw, cfg)
