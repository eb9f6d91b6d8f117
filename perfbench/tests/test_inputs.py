"""The same seed gives byte-identical inputs; another seed gives others."""

import crawlpages
import docs


def test_crawl_pages_repeat_for_a_seed():
    a = crawlpages.make_pages(3, 40)
    b = crawlpages.make_pages(3, 40)
    assert [p.html for p in a] == [p.html for p in b]
    assert [p.paragraphs for p in a] == [p.paragraphs for p in b]


def test_crawl_pages_differ_across_seeds():
    a = crawlpages.make_pages(3, 40)
    b = crawlpages.make_pages(4, 40)
    assert all(x.html != y.html for x, y in zip(a, b))


def test_crawl_corpus_shape_is_fixed_by_size():
    pages = crawlpages.make_pages(5, 200)
    shapes = [p.shape for p in pages]
    assert shapes.count("deep_nest") == shapes.count("sibling_run") == 4
    sizes = [len(p.html) / 1024 for p in pages]
    assert crawlpages.SIZE_MIN_KB * 0.9 <= min(sizes) and max(sizes) <= crawlpages.SIZE_MAX_KB * 1.2


def test_planted_paragraphs_are_free_of_the_marker():
    for p in crawlpages.make_pages(6, 30):
        assert crawlpages.MARKER.encode() in p.html
        assert p.paragraphs and all(crawlpages.MARKER not in q for q in p.paragraphs)


def test_documents_repeat_for_a_seed_and_differ_across_seeds():
    a = docs.make_documents(1, 300)
    assert a.equals(docs.make_documents(1, 300))
    assert not a.column("text").equals(docs.make_documents(2, 300).column("text"))

