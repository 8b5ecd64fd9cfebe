"""Minimal from-scratch PDF layout parser + matching generator.

The layout-parse branch for binary payloads (the Real-ESRGAN raw-binary
branch analog, reference ENHANCMENT24.py:93-107). Scope is frozen to the
subset our generator emits — uncompressed or Flate content streams with
BT/ET, Tf, Td, TD, Tm, Tj, TJ text operators — which also covers a useful
slice of real-world simple PDFs. Reading order: spans sorted by
(page, -y, x), per SURVEY.md §7.2 milestone 7.

The parse ends at blocks (pdf_blocks): core.PageBatch routes a payload
with PDF magic here, adds its span texts as blocks that are all content,
and decodes them in the one pass it runs over the HTML pages' blocks.

Deterministic: no randomness, float64 positions, stable sort.
"""

from __future__ import annotations

import re
import zlib

from greenocr_spark.extractor.core import canon_ws, extract_document

# The frozen forms of the two stream scans (tests/test_pdf.py keeps them
# as the reference): a stream body, and a dictionary followed by a stream.
# The regexes rescan to the end of the file from every "stream" header
# with no "endstream" after it and from every "<<" with no ">>" after it,
# so the scans below find each delimiter once instead.
_STREAM_HEAD_RE = re.compile(rb"stream\r?\n")
_STREAM_END = b"\nendstream"  # the body ends before it, or before "\r" + it
_DICT_TAIL_RE = re.compile(rb">>\s*stream\r?\n")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)")

# Inflated bytes one document may parse, over all its Flate streams: a
# stream that would pass the cap is cut at it, and later ones inflate to
# nothing. A deflate bomb (~1000:1) then costs seconds and tens of MB, not
# minutes and gigabytes.
MAX_INFLATE_BYTES = 4 << 20


class _Streams:
    """The stream scans of one file, in linear time: the forward search
    for a body's end is cached, so asked at increasing positions it scans
    each byte once."""

    def __init__(self, raw: bytes):
        self.raw = raw
        # the first _STREAM_END at or after lo is at `at` (-1: none)
        self._end_lo, self._end = 1, 0

    def _body_end(self, s: int) -> int:
        if not (self._end_lo <= s and (self._end < 0 or s <= self._end)):
            self._end_lo, self._end = s, self.raw.find(_STREAM_END, s)
        return self._end

    def body(self, p: int) -> tuple[int, int, int] | None:
        r"""rb"stream\r?\n(.*?)\r?\nendstream" (DOTALL) matched at p, as
        (body start, body end, match end), or None."""
        m = _STREAM_HEAD_RE.match(self.raw, p)
        if m is None:
            return None
        s = m.end()
        k = self._body_end(s)
        if k < 0:
            return None
        return s, (k - 1 if k > s and self.raw[k - 1] == 0x0D else k), k + len(_STREAM_END)

    def bodies(self):
        r"""The bodies of rb"stream\r?\n(.*?)\r?\nendstream" (DOTALL)
        .finditer: once one header has no end after it, no later one has."""
        pos = 0
        while (m := _STREAM_HEAD_RE.search(self.raw, pos)) is not None:
            got = self.body(m.start())
            if got is None:
                return
            s, e, pos = got
            yield self.raw[s:e]

    def dicts(self):
        r"""(start, dictionary body, end) of each
        rb"<<([^>]*(?:>(?!>)[^>]*)*)>>\s*stream\r?\n" (DOTALL) .finditer
        match. A dictionary runs to the first ">>" after its "<<", so every
        "<<" before that ">>" shares it and its tail."""
        raw = self.raw
        pos, close, tail = 0, -1, None
        while (start := raw.find(b"<<", pos)) >= 0:
            if close < start + 2:
                close = raw.find(b">>", start + 2)
                if close < 0:
                    return
                tail = _DICT_TAIL_RE.match(raw, close)
            if tail is None:
                pos = start + 1
                continue
            yield start, raw[start + 2 : close], tail.end()
            pos = tail.end()


def iter_streams(raw: bytes):
    """Yield content-stream bodies in document order.

    Primary path honors the dictionary's /Length — REQUIRED for Flate
    streams, whose compressed bytes can legally contain the literal
    `\\nendstream` sequence (a naive delimiter scan truncates them).
    Streams without a usable /Length fall back to the delimiter scan."""
    streams = _Streams(raw)
    found = False
    for start, dict_body, end in streams.dicts():
        lm = _LENGTH_RE.search(dict_body)
        if lm:
            n = int(lm.group(1))
            if raw[end + n : end + n + 11].lstrip(b"\r\n").startswith(b"endstream"):
                found = True
                yield raw[end : end + n]
                continue
        em = streams.body(start + raw[start:end].find(b"stream"))
        if em:
            found = True
            yield raw[em[0] : em[1]]
    if not found:
        yield from _Streams(raw).bodies()


# --------------------------------------------------------------------------
# Generator (fixtures only — never used in the extraction path)
# --------------------------------------------------------------------------


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def build_pdf(pages, compress: bool = False) -> bytes:
    """Build a minimal 1..n page PDF. `pages` is a list of pages; each page a
    list of (x, y, text) spans. One content stream per page."""
    out = [b"%PDF-1.4\n"]
    objs = []
    n_pages = len(pages)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    objs.append(
        f"2 0 obj\n<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>\nendobj\n".encode()
    )
    for i, spans in enumerate(pages):
        page_num, stream_num = 3 + 2 * i, 4 + 2 * i
        objs.append(
            (
                f"{page_num} 0 obj\n<< /Type /Page /Parent 2 0 R "
                f"/MediaBox [0 0 612 792] /Contents {stream_num} 0 R >>\nendobj\n"
            ).encode()
        )
        ops = []
        for k, (x, y, text) in enumerate(spans):
            # cycle positioning/show operator styles so fixtures exercise
            # every parser path (Td+Tj, Tm+Tj, Td+TJ-array); all three are
            # position-equivalent, so extracted spans are identical
            style = k % 4
            if style == 0:
                ops.append(f"BT /F1 12 Tf {x} {y} Td ({_esc(text)}) Tj ET")
            elif style == 1:
                ops.append(f"BT /F1 12 Tf 1 0 0 1 {x} {y} Tm ({_esc(text)}) Tj ET")
            elif style == 2:
                half = len(text) // 2
                a, b = _esc(text[:half]), _esc(text[half:])
                ops.append(f"BT /F1 12 Tf {x} {y} Td [({a}) -250 ({b})] TJ ET")
            else:
                hx = text.encode("latin-1", errors="replace").hex()
                ops.append(f"BT /F1 12 Tf {x} {y} Td <{hx}> Tj ET")
        body = "\n".join(ops).encode("latin-1", errors="replace")
        filt = b""
        if compress:
            body = zlib.compress(body)
            filt = b" /Filter /FlateDecode"
        objs.append(
            f"{stream_num} 0 obj\n<< /Length {len(body)}{filt.decode()} >>\nstream\n".encode()
            + body
            + b"\nendstream\nendobj\n"
        )
    for o in objs:
        out.append(o)
    out.append(b"trailer\n<< /Root 1 0 R >>\n%%EOF\n")
    return b"".join(out)


# --------------------------------------------------------------------------
# Parser
# --------------------------------------------------------------------------


# Tokenizer hot-path tables (round-2 rewrite: index bytes as ints — no
# per-byte bytes-object allocation — and match precompiled regexes AT a
# position instead of re.match on a data[i:] copy; token stream is
# byte-identical, pinned by tests/test_pdf.py + the fixture hash gate).
_PDF_WS = frozenset(b" \t\n\r\x0b\x0c")  # == single-byte bytes.isspace()
_HEX_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>")
_HEX_WS_RE = re.compile(rb"\s")
_NAME_RE = re.compile(rb"/[^\s\[\]()<>/]*")
_NUM_START = frozenset(b"-+.0123456789")
_NUM_RE = re.compile(rb"[-+.0-9]+")
_OP_RE = re.compile(rb"[A-Za-z'\"*]+")
_ESC_MAP = {0x6E: "\n", 0x72: "\r", 0x74: "\t", 0x62: "\b", 0x66: "\f"}


def _tokenize_content(data: bytes):
    """Yield tokens from a content stream: ('str', text), ('num', float),
    ('op', name), ('arr', [tokens])."""
    i, n = 0, len(data)
    ws = _PDF_WS
    while i < n:
        c = data[i]
        if c in ws:
            i += 1
        elif c == 0x28:  # '(' — PDF literal string, escapes, balanced parens
            buf = []
            depth = 1
            i += 1
            while i < n and depth > 0:
                ch = data[i]
                if ch == 0x5C and i + 1 < n:  # backslash escape
                    nxt = data[i + 1]
                    esc = _ESC_MAP.get(nxt)
                    buf.append(esc if esc is not None else chr(nxt))
                    i += 2
                    continue
                if ch == 0x28:
                    depth += 1
                elif ch == 0x29:
                    depth -= 1
                    if depth == 0:
                        i += 1
                        break
                buf.append(chr(ch))  # latin-1 single byte == chr
                i += 1
            yield ("str", "".join(buf))
        elif c == 0x3C:  # '<'
            if i + 1 < n and data[i + 1] == 0x3C:  # '<<' inline dict — skip
                end = data.find(b">>", i + 2)
                i = n if end < 0 else end + 2
                continue
            m = _HEX_RE.match(data, i)
            if m:
                hx = _HEX_WS_RE.sub(b"", m.group(1))
                if len(hx) % 2:
                    hx += b"0"  # PDF spec: odd-length hex pads with 0
                try:
                    yield ("str", bytes.fromhex(hx.decode("ascii")).decode("latin-1"))
                except ValueError:
                    pass
                i = m.end()
            else:
                i += 1
        elif c == 0x5B:  # '['
            j = i + 1
            depth = 1
            while j < n and depth > 0:
                cj = data[j]
                if cj == 0x28:  # skip strings (may contain brackets)
                    j += 1
                    while j < n and data[j] != 0x29:
                        if data[j] == 0x5C:
                            j += 1
                        j += 1
                elif cj == 0x5B:
                    depth += 1
                elif cj == 0x5D:
                    depth -= 1
                j += 1
            yield ("arr", list(_tokenize_content(data[i + 1 : j - 1])))
            i = j
        elif c == 0x2F:  # '/'
            m = _NAME_RE.match(data, i)
            yield ("name", m.group(0).decode("latin-1"))
            i = m.end()
        elif c in _NUM_START:
            m = _NUM_RE.match(data, i)
            try:
                yield ("num", float(m.group(0)))
            except ValueError:
                pass
            i = m.end()
        else:
            m = _OP_RE.match(data, i)
            if m:
                yield ("op", m.group(0).decode("latin-1"))
                i = m.end()
            else:
                i += 1


def _parse_stream(data: bytes):
    """Return list of (x, y, text) spans from one content stream."""
    spans = []
    x = y = 0.0
    operands = []
    for kind, val in _tokenize_content(data):
        if kind in ("str", "num", "name", "arr"):
            operands.append((kind, val))
            continue
        op = val
        if op == "BT":
            x = y = 0.0
        elif op in ("Td", "TD") and len(operands) >= 2:
            x += float(operands[-2][1])
            y += float(operands[-1][1])
        elif op == "Tm" and len(operands) >= 6:
            x = float(operands[-2][1])
            y = float(operands[-1][1])
        elif op == "Tj" and operands and operands[-1][0] == "str":
            spans.append((x, y, operands[-1][1]))
        elif op == "TJ" and operands and operands[-1][0] == "arr":
            text = "".join(v for k, v in operands[-1][1] if k == "str")
            spans.append((x, y, text))
        elif op in ("'", '"'):
            y -= 14.0  # next-line shorthand (T* leading default)
            if operands and operands[-1][0] == "str":
                spans.append((x, y, operands[-1][1]))
        operands = []
    return spans


def _inflate(body: bytes, room: int) -> bytes | None:
    """A Flate stream's bytes cut at `room`, or None when `body` is not a
    complete zlib stream (then it is parsed as a plain content stream)."""
    d = zlib.decompressobj()
    try:
        out = d.decompress(body, room + 1)  # max_length 0 would mean no cap
    except zlib.error:
        return None
    if d.eof or len(out) > room:
        return out[:room]
    return None  # truncated: zlib.decompress would raise


def pdf_blocks(raw: bytes) -> list[str]:
    """The blocks of a minimal PDF byte stream: its whitespace-canonical
    span texts in reading order, empty ones dropped.

    Each content stream is one page (generator invariant), and spans sort
    by (page, -y, x). Every block is content: core.PageBatch decodes them
    with the HTML pages' blocks."""
    texts = []
    room = MAX_INFLATE_BYTES
    for body in iter_streams(raw):
        inflated = _inflate(body, room)
        if inflated is not None:
            body = inflated
            room -= len(body)
        page_spans = _parse_stream(body)
        page_spans.sort(key=lambda s: (-s[1], s[0]))
        texts += filter(None, (canon_ws(text) for _x, _y, text in page_spans))
    return texts


def extract_pdf(raw: bytes) -> dict:
    """The extracted result of a PDF payload (raw starts with
    core.PDF_MAGIC): core.extract_document's one-page batch."""
    return extract_document(raw)
