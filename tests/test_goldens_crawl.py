"""Byte-identity gate that runs without the reference corpus.

Every page of ``tests/crawl_goldens.py`` must extract to the field digests
committed in ``tests/goldens_crawl.json``. A page whose *input* digest moved
fails as a generator change (the page generator, not the engine, produced
different bytes), so an engine regression is never confused with one.
"""

import pytest

from tests import crawl_goldens as G


@pytest.fixture(scope="module")
def goldens():
    data = G.load()
    assert data["hash_chars"] == G.HASH_CHARS
    assert data["fields"] == ["input", *G.FIELDS]
    return data


def _mismatches(expected: dict, got: dict, fields: list) -> list:
    out = []
    for key in sorted(expected.keys() | got.keys()):
        want, have = expected.get(key), got.get(key)
        if want is None or have is None:
            out.append(f"{key}: {'missing' if have is None else 'not in goldens'}")
            continue
        moved = [f for f, a, b in zip(fields, want, have) if a != b]
        if moved:
            out.append(f"{key}: {', '.join(moved)}")
    return out


def test_crawl_goldens_byte_identical(goldens):
    pages = G.corpus()
    inputs = {pid: G.digest(html) for pid, _, html in pages}
    generator_changed = sorted(
        pid for pid, d in inputs.items() if goldens["pages"].get(pid, [None])[0] != d
    )
    assert not generator_changed and len(pages) == len(goldens["pages"]), (
        "generator changed: the page inputs no longer match the goldens "
        f"({len(generator_changed)} pages, first {generator_changed[:5]}); "
        "regenerate tests/goldens_crawl.json with the engine that wrote it"
    )
    got = {pid: G.page_digests(url, html) for pid, url, html in pages}
    bad = _mismatches(goldens["pages"], got, goldens["fields"])
    assert not bad, f"{len(bad)} pages changed output: {bad[:10]}"


def test_goldens_cover_every_shape(goldens):
    kinds = {pid.split(":")[0] for pid in goldens["pages"]}
    assert kinds == {"crawl", "feature", "hostile", "mutated"}
    assert {pid.split(":")[1] for pid in goldens["pages"] if pid.startswith("hostile:")} == set(
        G.HOSTILE_SHAPES
    )
    assert {pid.split(":")[1] for pid in goldens["pages"] if pid.startswith("feature:")} == {
        "rtl", "base_href", "hidden", "font", "sibling"
    } == set(G.FEATURE_PAGES)
    ok = goldens["fields"].index("ok")
    outcomes = {row[ok] for row in goldens["pages"].values()}
    assert G.digest(True) in outcomes and G.digest(False) in outcomes


# what each feature page must do, beyond matching its golden
FEATURE_CHECKS = {
    "rtl": lambda row: row["dir"] == "rtl",
    "base_href": lambda row: 'href="https://static.example.org/news/story/2.html"'
    in row["content_html"]
    and 'src="https://static.example.org/news/img/photo.jpg"' in row["content_html"],
    "hidden": lambda row: "marker" not in row["text"],
    "font": lambda row: "<font" not in row["content_html"]
    and "Font tag marker 3." in row["text"],
    # absorbed as a sibling of the top candidate, not by promoting the parent
    "sibling": lambda row: "Sibling paragraph marker" in row["text"]
    and 'id="page"' not in row["content_html"],
}


@pytest.mark.parametrize("name", sorted(FEATURE_CHECKS))
def test_feature_page_behaviour(name):
    from readability_spark.operators.extract import _extract_one

    row = _extract_one(G.feature_url(name), G.FEATURE_PAGES[name].encode(), {}, True)
    assert row["ok"], row["err"]
    assert FEATURE_CHECKS[name](row), {k: row[k] for k in ("dir", "content_html")}


@pytest.mark.spark
def test_template_goldens_byte_identical(spark, goldens):
    import os

    if not os.path.isdir(G.TEMPLATE_SF):
        pytest.skip("sf0.001 test data not present")
    got = G.template_digests(spark)
    assert got, "no template pages extracted"
    bad = _mismatches(goldens["template"], got, goldens["fields"][1:])
    assert not bad, f"{len(bad)} template pages changed output: {bad[:10]}"
