"""Deterministic Common-Crawl-style page fixture generator (FIXTURES.md §1).

Schema matches BASELINE.json input_hint exactly:
    (url:string, warc_ts:timestamp, html:binary, text:string, lang:string)

Properties:
- fully deterministic (seeded random.Random, no wall clock, no network);
- Zipf-skewed host pool: host-0 carries ~30% of rows (exercises salting,
  the width-bucket analog of reference train.py:899-907);
- degradation matrix of FIXTURES.md (clean / entity-soup / unclosed-tags /
  charset-quirk / link-farm / boilerplate-heavy / whitespace-noise /
  short-page / pdf / empty), cycled so every case appears at every scale.
"""

from __future__ import annotations

import datetime as _dt
import random

from greenocr_spark.extractor.pdf import build_pdf

WORDS = (
    "data spark table query scan filter join merge sort window batch stream "
    "column row value key hash part order group vector fast slow big small "
    "engine block text page host crawl extract content signal score decode"
).split()

LANGS = ["en", "de", "et", "es", "fr"]

CASES = [
    "clean",
    "entity-soup",
    "unclosed-tags",
    "charset-quirk",
    "link-farm",
    "boilerplate-heavy",
    "whitespace-noise",
    "short-page",
    "pdf",
    "empty",
    "utf16",
    "nested-tables",
    "deep-nesting",
    "huge-block",
    "broken-entity",
    "cdata-comment",
]

_EPOCH = _dt.datetime(2025, 1, 1, 0, 0, 0)


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _host(rng: random.Random, n_hosts: int = 20) -> str:
    # Zipf-ish: host-0 gets ~30% of rows, rest spread geometrically.
    r = rng.random()
    if r < 0.30:
        return "big.example.com"
    return f"host{rng.randrange(1, n_hosts)}.example.org"


def _nav_html() -> str:
    return (
        "<nav><ul><li><a href='/'>Home</a></li><li><a href='/about'>About</a></li>"
        "<li><a href='/contact'>Contact</a></li></ul></nav>"
    )


def _footer_html() -> str:
    return (
        "<footer><p><a href='/terms'>Terms of service</a> | "
        "<a href='/privacy'>Privacy policy</a> | copyright</p></footer>"
    )


def _article(rng: random.Random, n_paras: int):
    paras = [_sentence(rng, rng.randrange(20, 45)) for _ in range(n_paras)]
    body = "".join(f"<p>{p}</p>" for p in paras)
    return body, paras


def make_page(i: int, seed: int = 42):
    """Build row i deterministically. Returns dict matching input_hint."""
    rng = random.Random((seed << 20) ^ i)
    case = CASES[i % len(CASES)]
    host = _host(rng)
    url = f"https://{host}/{case}/page-{i}"
    ts = _EPOCH + _dt.timedelta(seconds=i)
    lang = LANGS[i % len(LANGS)]
    title = _sentence(rng, 4)

    if case == "empty":
        return {"url": url, "warc_ts": ts, "html": b"", "text": None, "lang": lang}

    if case == "pdf":
        n_spans = rng.randrange(3, 9)
        page1 = [(72.0, 700.0 - 20 * k, _sentence(rng, rng.randrange(4, 10))) for k in range(n_spans)]
        pages = [page1]
        if rng.random() < 0.5:
            pages.append([(72.0, 700.0 - 20 * k, _sentence(rng, 6)) for k in range(2)])
        raw = build_pdf(pages, compress=rng.random() < 0.5)
        intended = " ".join(t for pg in pages for _, _, t in pg)
        return {"url": url, "warc_ts": ts, "html": raw, "text": intended, "lang": lang}

    body, paras = _article(rng, rng.randrange(3, 7))
    intended = " ".join(paras)

    if case == "nested-tables":
        # 3-level nested tables with long row texts (tokenizer must treat
        # each cell as its own block and tolerate interleaved nesting)
        cells = "".join(
            f"<tr><td>{_sentence(rng, rng.randrange(18, 30))}</td>"
            f"<td><table><tr><td>{_sentence(rng, 20)}</td></tr></table></td></tr>"
            for _ in range(4)
        )
        body = f"<table><tbody>{cells}</tbody></table>" + body
        intended = None
    elif case == "deep-nesting":
        depth = 150
        body = "<div>" * depth + body + "</div>" * depth
        # context stack tolerates depth; text blocks unchanged
    elif case == "huge-block":
        body, paras = f"<p>{_sentence(rng, 3000)}</p>", None
        intended = None  # single massive paragraph; oracle is the extractor
    elif case == "broken-entity":
        body = body + "<p>truncated &am"  # entity cut at buffer end
        body = body.replace("value", "&#xZZ;value", 1)  # invalid numeric ref
        intended = None
    elif case == "cdata-comment":
        body = (
            "<![CDATA[ raw <not-a-tag> cdata ]]>" + body
            + "<!-- unterminated comment trails "
        )
        intended = None

    if case == "entity-soup":
        body = body.replace(" and ", " &amp; ").replace("a", "&#97;", 3).replace("e", "&#x65;", 2)
    elif case == "unclosed-tags":
        body = body.replace("</p>", "", 2) + "<div><p>" + _sentence(rng, 25)
        intended = None  # ground truth differs; oracle is the extractor itself
    elif case == "link-farm":
        farm = "".join(
            f"<div><a href='/l{k}'>{_sentence(rng, 3)}</a></div>" for k in range(12)
        )
        body = farm + body + farm
    elif case == "boilerplate-heavy":
        extra = "".join(f"<nav><a href='/n{k}'>{_sentence(rng, 2)}</a></nav>" for k in range(15))
        body = extra + body + extra
    elif case == "whitespace-noise":
        body = body.replace(" ", "\t\n ", 8).replace("value", "value ", 4)
    elif case == "short-page":
        body, paras = _article(rng, 1)
        intended = " ".join(paras)

    doc = (
        f"<!DOCTYPE html><html><head><title>{title}</title>"
        f"<script>var x = 1 < 2;</script><style>p {{ color: red }}</style></head>"
        f"<body>{_nav_html()}<!-- boilerplate comment --><main>{body}</main>"
        f"{_footer_html()}</body></html>"
    )

    if case == "charset-quirk":
        doc = doc.replace("<head>", "<head><meta charset='latin-1'>")
        doc = doc.replace("value", "välue", 2)
        raw = doc.encode("latin-1", errors="replace")
    elif case == "utf16":
        raw = doc.encode("utf-16")  # BOM-prefixed UTF-16-LE
    else:
        raw = doc.encode("utf-8")

    return {"url": url, "warc_ts": ts, "html": raw, "text": intended, "lang": lang}


def make_pages(n: int, seed: int = 42):
    return [make_page(i, seed) for i in range(n)]


def pages_arrow_table(n: int, seed: int = 42):
    """Build an Arrow table with the exact input_hint schema."""
    import pyarrow as pa

    rows = make_pages(n, seed)
    schema = pa.schema(
        [
            pa.field("url", pa.string()),
            pa.field("warc_ts", pa.timestamp("us")),
            pa.field("html", pa.binary()),
            pa.field("text", pa.string()),
            pa.field("lang", pa.string()),
        ]
    )
    cols = {k: [r[k] for r in rows] for k in ("url", "warc_ts", "html", "text", "lang")}
    return pa.Table.from_pydict(cols, schema=schema)


# A parquet row group is the smallest unit Spark can put in a split, so a
# fixture file written as one row group reads as one busy task however big
# it is. ~1 MB groups let Spark split a large fixture by bytes.
ROW_GROUP_BYTES = 1 << 20


def write_pages_parquet(path: str, n: int, seed: int = 42):
    import pyarrow.parquet as pq

    table = pages_arrow_table(n, seed)
    rows = max(1, table.num_rows * ROW_GROUP_BYTES // max(1, table.nbytes))
    pq.write_table(table, path, row_group_size=rows)
    return path
