"""Characterisation corpus for the extraction byte-identity gate.

The pages are generated, never stored: crawl-shaped pages from
``perfbench/crawlpages.py`` (seeds 1-3, imported read-only), six hostile
page shapes at two sizes each, one hand-written page per extraction
feature class the crawl pages lack (``FEATURE_PAGES``), and seeded
byte-level mutations of crawl pages. ``tests/goldens_crawl.json`` holds, per page, a sha256 of the input
and of every ``ARTICLE_SCHEMA`` field the extraction call returns
(``content_html`` included). The expected values are characterisation
goldens: what the engine produced when they were written, a regression net
for optimisations that must not change output, not new truth.

The template pages of ``sources.pages.synthesize_pages`` over the sf0.001
documents are covered too, through Spark (a ``spark``-marked test).

Regenerate (only when an output change is intended)::

    python3 tests/crawl_goldens.py             # crawl, hostile, mutated
    python3 tests/crawl_goldens.py --template  # template pages (starts Spark)
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDENS = os.path.join(ROOT, "tests", "goldens_crawl.json")

CRAWL_SEEDS = (1, 2, 3)
N_MUTATIONS = 1500
# hex digits kept of each sha256: 64 bits is ample to detect a change
HASH_CHARS = 16

_FILLER = (
    "The council met on Tuesday to discuss the budget for the new harbour "
    "bridge, and the survey of the railway station was published, with "
    "figures for the season. "
)


def _page(body: str, title: str = "Hostile page shape for the scaling test") -> str:
    article = "".join(f"<p>{_FILLER * 3}</p>" for _ in range(4))
    return (
        f"<!DOCTYPE html><html><head><title>{title}</title></head><body>"
        f'<div class="content">{article}{body}</div></body></html>'
    )


def nested_labelled_divs(n: int) -> str:
    return _page("".join(f"<div><span>part {d}</span>" for d in range(n)) + "</div>" * n)


def nested_empty_divs(n: int) -> str:
    return _page("<div>" * n + "</div>" * n)


def nested_tables(n: int) -> str:
    return _page(
        "".join(f"<table><tr><td>cell {d}" for d in range(n))
        + "</td></tr></table>" * n
    )


def sibling_anchors(n: int) -> str:
    return _page(
        '<div class="tags">'
        + "".join(f'<a href="/tag/{k}">tag{k}</a> ' for k in range(n))
        + "</div>"
    )


def br_runs(n: int) -> str:
    return _page("<div>" + "".join(f"line {k}<br><br>" for k in range(n)) + "</div>")


def li_runs(n: int) -> str:
    return _page("<ul>" + "".join(f"<li>item {k}</li>" for k in range(n)) + "</ul>")


# shape -> (builder, (small, large) sizes for the goldens)
HOSTILE_SHAPES = {
    "nested_labelled_divs": (nested_labelled_divs, (100, 200)),
    "nested_empty_divs": (nested_empty_divs, (200, 400)),
    "nested_tables": (nested_tables, (50, 100)),
    "sibling_anchors": (sibling_anchors, (500, 1000)),
    "br_runs": (br_runs, (500, 1000)),
    "li_runs": (li_runs, (500, 1000)),
}

def _feature_page(body: str, head: str = "") -> str:
    return (
        "<!DOCTYPE html><html><head><title>Feature page for the goldens</title>"
        f"{head}</head><body>{body}</body></html>"
    )


_ARTICLE = "".join(f"<p>{_FILLER * 3}</p>" for _ in range(4))

# feature class -> page; tests/test_goldens_crawl.py asserts what each one
# must do besides matching its golden
FEATURE_PAGES = {
    # the article's dir attribute becomes the result's dir
    "rtl": _feature_page(f'<div dir="rtl" class="content">{_ARTICLE}</div>'),
    # relative link and image URLs resolve against <base href>, not the page URL
    "base_href": _feature_page(
        f'<div class="content">{_ARTICLE}<p>{_FILLER}See <a href="story/2.html">the '
        'next story</a> and the photo <img src="img/photo.jpg" alt="harbour"> of '
        "the bridge.</p></div>",
        head='<base href="https://static.example.org/news/">',
    ),
    # nodes with the hidden attribute or aria-hidden="true" are dropped
    "hidden": _feature_page(
        f'<div class="content">{_ARTICLE}<p hidden>Hidden attribute marker text.</p>'
        f'<div aria-hidden="true"><p>Aria hidden marker text, {_FILLER}</p></div></div>'
    ),
    # <font> is renamed to <span>, its text kept
    "font": _feature_page(
        '<div class="content">'
        + "".join(
            f'<p>{_FILLER}<font color="red">Font tag marker {k}.</font> {_FILLER}</p>'
            for k in range(4)
        )
        + "</div>"
    ),
    # a text paragraph next to the top candidate is absorbed into the article
    "sibling": _feature_page(
        f'<div id="page"><div class="content">{_ARTICLE}</div><p>Sibling paragraph '
        "marker: the harbour bridge opens next spring, the council said on "
        "Tuesday.</p></div>"
    ),
}


def feature_url(name: str) -> str:
    return f"https://feature.example/{name}/index.html"


_SNIPPETS = (
    "<div>", "</div>", "<p>", "</p>", "<br>", "<br/>", "<table>", "<tr><td>",
    "</td>", "<li>", "</ul>", '<a href="#x">', "</a>", "&amp;", "&#x41;",
    "&bogus;", "<!--", "-->", "<script>", "</script>", '<p class="comment">',
    '<div id="sidebar">', "<span>", "<img src=x.jpg>", "<noscript>",
    '<div style="display:none">', "<h1>", "<h2>", "<form>", "<iframe>",
    "<svg>", "</svg>", '"', "'", "<", ">", "=", "</body>", "<body>", "</html>",
)


def _mutate(rng: random.Random, raw: bytes) -> bytes:
    data = bytearray(raw)
    for _ in range(rng.randint(1, 4)):
        n = len(data)
        if n < 2:
            break
        op = rng.randrange(6)
        i = rng.randrange(n)
        j = min(n, i + rng.randint(1, 400))
        if op == 0:  # delete a span
            del data[i:j]
        elif op == 1:  # duplicate a span
            data[j:j] = data[i:j]
        elif op == 2:  # insert markup
            snip = "".join(rng.choice(_SNIPPETS) for _ in range(rng.randint(1, 6)))
            data[i:i] = snip.encode()
        elif op == 3:  # truncate
            del data[max(i, 1):]
        elif op == 4:  # move a span elsewhere
            chunk = bytes(data[i:j])
            del data[i:j]
            k = rng.randrange(len(data) + 1)
            data[k:k] = chunk
        else:  # flip bytes, sometimes into invalid UTF-8
            for k in range(i, min(j, i + 8)):
                data[k] = rng.randrange(256)
    return bytes(data)


def corpus() -> list:
    """(page id, url, html bytes) for every page of the gate, in a fixed
    order."""
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    try:
        import crawlpages
    finally:
        sys.path.pop(0)

    pages = []
    crawl = []
    for seed in CRAWL_SEEDS:
        for k, p in enumerate(crawlpages.make_pages(seed, crawlpages.DOCS)):
            pages.append((f"crawl:{seed}:{k}", p.url, p.html))
            crawl.append(p)
    for name, (build, sizes) in HOSTILE_SHAPES.items():
        for n in sizes:
            pages.append(
                (f"hostile:{name}:{n}", f"https://hostile.example/{name}/{n}", build(n).encode())
            )
    for name, html in FEATURE_PAGES.items():
        pages.append((f"feature:{name}", feature_url(name), html.encode()))
    # mutations of the smaller crawl pages keep the gate's run time down
    small = [p for p in crawl if len(p.html) < 40_000]
    rng = random.Random("crawl_goldens:mutations")
    for k in range(N_MUTATIONS):
        base = rng.choice(small)
        pages.append((f"mutated:{k}", base.url, _mutate(rng, base.html)))
    return pages


def digest(value) -> "str | None":
    if value is None:
        return None
    if isinstance(value, str):
        value = value.encode("utf-8", "surrogatepass")
    elif not isinstance(value, bytes):
        value = repr(value).encode()
    return hashlib.sha256(value).hexdigest()[:HASH_CHARS]


FIELDS = (
    "url", "ok", "err", "title", "byline", "dir", "lang", "content_html",
    "text", "excerpt", "site_name", "published", "length",
)


def row_digests(row: dict) -> list:
    """Digests of one extracted row, in ``FIELDS`` order."""
    return [digest(row[name]) for name in FIELDS]


def page_digests(url, html: bytes) -> list:
    """[input digest, field digests...] of the job's per-document call."""
    from readability_spark.operators.extract import _extract_one

    return [digest(html)] + row_digests(_extract_one(url, html, {}, True))


TEMPLATE_SF = "/root/testdata/sf0.001"


def template_digests(spark, sf_dir: str = TEMPLATE_SF) -> dict:
    """url -> [field digests...] of the template pages of ``sf_dir``
    (``sources.pages.synthesize_pages``) extracted through Spark."""
    from readability_spark.operators.extract import extract
    from readability_spark.sources.pages import synthesize_pages

    rows = extract(synthesize_pages(spark, sf_dir)).collect()
    return {r["url"]: row_digests(r.asDict()) for r in rows}


def load() -> dict:
    with open(GOLDENS) as f:
        return json.load(f)


def dump(data: dict) -> None:
    """One page per line, so a diff of the file names the pages that moved."""
    with open(GOLDENS, "w") as f:
        f.write('{"hash_chars": %d, "fields": %s,\n' % (data["hash_chars"], json.dumps(data["fields"])))
        for section in ("template", "pages"):
            entries = data.get(section, {})
            f.write(f'"{section}": {{\n')
            f.write(",\n".join(f"{json.dumps(k)}: {json.dumps(v)}" for k, v in sorted(entries.items())))
            f.write("\n}" + (",\n" if section == "template" else "}\n"))


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    data = load() if os.path.exists(GOLDENS) else {}
    data.update(hash_chars=HASH_CHARS, fields=["input", *FIELDS])
    if "--template" in sys.argv:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[2]").getOrCreate()
        data["template"] = template_digests(spark)
        spark.stop()
    else:
        data["pages"] = {pid: page_digests(url, html) for pid, url, html in corpus()}
    dump(data)
    print(f"{len(data['pages'])} pages -> {GOLDENS}")
