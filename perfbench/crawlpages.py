"""Seeded, stdlib-only generator of crawl-shaped HTML pages.

Each page looks like a news or blog article as a crawler fetches it: a
JSON-LD and meta head, inline scripts and styles, a navigation bar, a
sidebar of link widgets, the article (paragraphs, lazy and noscript images,
a data table), a comment thread, related links and a footer. Page sizes
follow a lognormal distribution, sampled by strata so that corpora from
different seeds have the same size profile and the same number of hostile
pages. At the benchmark's corpus size (``DOCS``) the pages come out at a
median of about 19 KB, a mean of about 30 KB, a p90 of about 60 KB and a
maximum of about 310 KB.

The size parameters, the article, script and boilerplate shares and the
hostile share are not fitted to a measured crawl. They are set to give
pages of tens to a few hundred KB, with a mean near that of an earlier
prototype generator (23 KB) and enough pages over 100 KB (about 4%) for
the cost of large pages to show. Fitting them to published crawl
statistics is open work.

A small seeded share of pages carries a moderately hostile shape: the
article ends in a deep stack of nested divs, each with a short label, or it
is followed by a tag cloud with a long run of sibling links. They are sized
to stay under about 200 ms a page in one process on a 4-core box where the
median page takes 5–8 ms, a small share of a scan task, so no page is a
straggler.

For the correctness check every page records the article paragraphs it
planted. Every piece of boilerplate text carries ``MARKER``, which must
never appear in an extracted article.

Run ``python3 perfbench/crawlpages.py --seed 1`` to print the size summary
of the benchmark's corpus.
"""

from __future__ import annotations

import argparse
import json
import math
import random
from dataclasses import dataclass
from statistics import NormalDist

MARKER = "zqboilerplatemark"

URL_PREFIX = "https://news{site}.example/articles/"

# pages in the benchmark's crawl corpus
DOCS = 600

SIZE_MEDIAN_KB = 20.0
SIZE_SIGMA = 1.0
SIZE_MIN_KB = 4.0
SIZE_MAX_KB = 400.0

HOSTILE_SHARE = 0.04
NEST_DEPTH = (120, 240)
SIBLING_RUN = (500, 1000)

_WORDS = (
    "the of and to in a is that for it as was with be by on not he this are "
    "or his from at which but have an they you were her she there been one "
    "all we their has would when if so what out up more who about can said "
    "them time some could these two may first then do any like my now over "
    "such our man me even most made after also did many before must through "
    "back years where much your way well down should because each just those "
    "people how too little state good very make world still own see men work "
    "long get here between both life being under never day same another know "
    "while last might us great old year off come since against go came right "
    "used take three city council river market school energy report water "
    "budget station museum harbour bridge railway garden festival archive "
    "village research hospital library election season forecast community "
    "survey planning transport heritage weather orchestra"
).split()

_NAV = "Home World Politics Business Science Health Sport Culture Travel Video".split()


@dataclass(frozen=True)
class Page:
    url: str
    html: bytes
    paragraphs: tuple  # planted article paragraphs, as extraction should emit them
    shape: str  # "plain", "deep_nest" or "sibling_run"


def _sentence(rng: random.Random) -> str:
    n = rng.randint(9, 22)
    words = [rng.choice(_WORDS) for _ in range(n)]
    words[0] = words[0].capitalize()
    for k in range(3, n - 2, rng.randint(5, 9)):
        words[k] += ","
    return " ".join(words) + "."


def _paragraph(rng: random.Random) -> str:
    return " ".join(_sentence(rng) for _ in range(rng.randint(3, 6)))


def _boiler(rng: random.Random, n_words: int) -> str:
    words = [rng.choice(_WORDS) for _ in range(n_words)]
    words.insert(rng.randint(0, n_words), MARKER)
    return " ".join(words)


def _link_list(rng: random.Random, n: int, cls: str) -> str:
    items = "".join(
        f'<li><a href="/topic/{rng.randint(1, 99999)}">{_boiler(rng, rng.randint(2, 5))}</a></li>'
        for _ in range(n)
    )
    return f'<ul class="{cls}">{items}</ul>'


def _script(rng: random.Random, n_bytes: int) -> str:
    parts = []
    size = 0
    while size < n_bytes:
        line = (
            f"window.cfg_{rng.randint(0, 9999)} = {{id: {rng.randint(0, 10**6)}, "
            f"slot: 'ad-{rng.randint(0, 999)}', lazy: true, ratio: {rng.random():.4f}}};\n"
        )
        parts.append(line)
        size += len(line)
    return "<script>" + "".join(parts) + "</script>"


def _style(rng: random.Random, n_rules: int) -> str:
    rules = "".join(
        f".c{rng.randint(0, 9999)}{{margin:{rng.randint(0, 40)}px;color:#{rng.randint(0, 0xFFFFFF):06x}}}"
        for _ in range(n_rules)
    )
    return f"<style>{rules}</style>"


def _head(rng: random.Random, title: str, author: str, site: str, date: str) -> str:
    jsonld = json.dumps(
        {
            "@context": "https://schema.org",
            "@type": "NewsArticle",
            "headline": title,
            "author": {"@type": "Person", "name": author},
            "datePublished": date,
            "publisher": {"@type": "Organization", "name": site},
        }
    )
    return (
        '<head><meta charset="utf-8">'
        f"<title>{title} | {site}</title>"
        f'<meta name="description" content="{title} reported by {author}.">'
        f'<meta property="og:title" content="{title}">'
        f'<meta property="og:site_name" content="{site}">'
        f'<meta name="author" content="{author}">'
        f'<meta property="article:published_time" content="{date}">'
        '<link rel="stylesheet" href="/static/site.css">'
        f'<script type="application/ld+json">{jsonld}</script>'
        f"{_style(rng, rng.randint(10, 40))}"
        "</head>"
    )


def _article(
    rng: random.Random, title: str, author: str, paragraphs: list, site: int, depth: int
) -> str:
    body = []
    for k, p in enumerate(paragraphs):
        if k and k % 3 == 0 and rng.random() < 0.6:
            img = f"/media/{site}/{rng.randint(1, 10**6)}.jpg"
            if rng.random() < 0.5:
                body.append(
                    f'<figure><img class="lazy" data-src="{img}" src="data:image/gif;base64,R0lGODlhAQABAAAAACw=" alt="">'
                    f'<noscript><img src="{img}" alt=""></noscript></figure>'
                )
            else:
                body.append(f'<figure><img src="{img}" width="640" height="360" alt=""></figure>')
        if k == 2 and rng.random() < 0.3:
            rows = "".join(
                f"<tr><td>{rng.choice(_WORDS)}</td><td>{rng.randint(0, 9999)}</td>"
                f"<td>{rng.randint(0, 99)}.{rng.randint(0, 9)}</td></tr>"
                for _ in range(rng.randint(5, 12))
            )
            body.append(
                "<table><caption>Figures</caption><thead><tr><th>item</th><th>count</th>"
                f"<th>share</th></tr></thead><tbody>{rows}</tbody></table>"
            )
        words = p.split(" ")
        if len(words) > 12 and rng.random() < 0.4:
            k0 = rng.randint(2, len(words) - 4)
            words[k0] = f'<a href="/story/{rng.randint(1, 10**6)}">{words[k0]}'
            words[k0 + 1] = words[k0 + 1] + "</a>"
        if rng.random() < 0.2:
            k1 = rng.randint(0, len(words) - 1)
            if "<" not in words[k1]:
                words[k1] = f"<em>{words[k1]}</em>"
        body.append("<p>" + " ".join(words) + "</p>")
    # the deep stack holds only short labels, so the article stays the best
    # candidate and every planted paragraph keeps one parent
    body.append("".join(f"<div><span>part {d}</span>" for d in range(depth)) + "</div>" * depth)
    return (
        '<article class="post hentry">'
        f'<h1 class="entry-title">{title}</h1>'
        f'<p class="byline">By <a rel="author" href="/by/{author.replace(" ", "-").lower()}">{author}</a></p>'
        f'<div class="entry-content">{"".join(body)}</div>'
        "</article>"
    )


def _comments(rng: random.Random, n: int) -> str:
    items = "".join(
        f'<li class="comment"><div class="comment-author">{_boiler(rng, 2)}</div>'
        f"<p>{_boiler(rng, rng.randint(8, 40))}</p></li>"
        for _ in range(n)
    )
    return f'<section id="comments" class="comments"><h3>Comments</h3><ol class="comment-list">{items}</ol></section>'


def _sidebar(rng: random.Random, n_widgets: int) -> str:
    widgets = "".join(
        f'<div class="widget"><h4>{_boiler(rng, 2)}</h4>{_link_list(rng, rng.randint(4, 10), "widget-links")}</div>'
        for _ in range(n_widgets)
    )
    return f'<aside class="sidebar" role="complementary">{widgets}</aside>'


def make_page(seed: int, index: int, size_quantile: float, shape: str) -> Page:
    """Page ``index`` of the corpus for ``seed``, sized at ``size_quantile``
    of the size distribution; the same arguments give the same bytes."""
    rng = random.Random(f"crawlpages:{seed}:{index}")
    site = rng.randint(1, 40)
    z = NormalDist().inv_cdf(size_quantile)
    target = min(max(SIZE_MEDIAN_KB * math.exp(SIZE_SIGMA * z), SIZE_MIN_KB), SIZE_MAX_KB) * 1024

    title = " ".join(w.capitalize() for w in (rng.choice(_WORDS[100:]) for _ in range(rng.randint(4, 8))))
    author = f"{rng.choice(_NAV)} {rng.choice(_WORDS[120:]).capitalize()}"
    date = f"2025-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T{rng.randint(0, 23):02d}:00:00Z"
    site_name = f"News{site}"

    # the article takes 20-40% of the page, at least three paragraphs
    art_budget = target * rng.uniform(0.2, 0.4)
    paragraphs = []
    size = 0
    while len(paragraphs) < 3 or size < art_budget:
        p = _paragraph(rng)
        paragraphs.append(p)
        size += len(p) + 60
    depth = rng.randint(*NEST_DEPTH) if shape == "deep_nest" else 0
    article = _article(rng, title, author, paragraphs, site, depth)

    head = _head(rng, title, author, site_name, date)
    nav = (
        '<header class="site-header"><nav class="menu" role="navigation"><ul>'
        + "".join(f'<li><a href="/{w.lower()}">{w}</a></li>' for w in _NAV)
        + "</ul></nav>"
        + f'<div class="breadcrumbs">{_boiler(rng, 4)}</div></header>'
    )
    used = len(head) + len(nav) + len(article)
    # the rest of the byte budget: 10-25% scripts, the rest boilerplate
    rest = max(target - used, 2048)
    scripts = _script(rng, int(rest * rng.uniform(0.1, 0.25)))
    boiler_bytes = rest - len(scripts)
    sidebar = _sidebar(rng, max(1, int(boiler_bytes * 0.35 / 900)))
    comments = _comments(rng, max(1, int(boiler_bytes * 0.35 / 260)))
    related = (
        '<div class="related"><h3>Related</h3>'
        + _link_list(rng, max(3, int(boiler_bytes * 0.15 / 90)), "related-links")
        + "</div>"
    )
    if shape == "sibling_run":
        n = rng.randint(*SIBLING_RUN)
        run = "".join(f'<a href="/tag/{k}">{MARKER}{k}</a> ' for k in range(n))
        article += f'<div class="tag-cloud">{run}</div>'
    footer = (
        f'<footer class="site-footer">{_link_list(rng, rng.randint(8, 20), "footer-links")}'
        f"<p>{_boiler(rng, 12)}</p></footer>"
    )

    html = (
        f'<!DOCTYPE html><html lang="en">{head}<body class="single">{nav}'
        f'<div class="container"><main id="main">{article}{comments}{related}</main>'
        f"{sidebar}</div>{footer}{scripts}</body></html>"
    )
    url = URL_PREFIX.format(site=site) + f"{seed}-{index}.html"
    return Page(url=url, html=html.encode("utf-8"), paragraphs=tuple(paragraphs), shape=shape)


def make_pages(seed: int, n_docs: int) -> list:
    """The corpus for ``seed``: one page per size stratum, in seeded order,
    and exactly ``HOSTILE_SHARE`` of the pages hostile, half of each shape."""
    rng = random.Random(f"crawlpages:{seed}")
    strata = list(range(n_docs))
    rng.shuffle(strata)
    hostile = rng.sample(range(n_docs), round(n_docs * HOSTILE_SHARE))
    shapes = {i: ("deep_nest", "sibling_run")[k % 2] for k, i in enumerate(hostile)}
    return [
        make_page(seed, i, (strata[i] + rng.random()) / n_docs, shapes.get(i, "plain"))
        for i in range(n_docs)
    ]


def summary(pages: list) -> dict:
    """Doc count, total MB and the p50/p90/max page size in KB."""
    kb = sorted(len(p.html) / 1024 for p in pages)

    def q(f: float) -> float:
        return round(kb[min(len(kb) - 1, int(f * len(kb)))], 1)

    shapes = {}
    for p in pages:
        shapes[p.shape] = shapes.get(p.shape, 0) + 1
    return {
        "docs": len(pages),
        "mb": round(sum(len(p.html) for p in pages) / 1e6, 3),
        "p50_kb": q(0.5),
        "p90_kb": q(0.9),
        "max_kb": round(kb[-1], 1),
        "shapes": shapes,
    }


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--docs", type=int, default=DOCS)
    args = ap.parse_args()
    print(json.dumps(summary(make_pages(args.seed, args.docs))))
