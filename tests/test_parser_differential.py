"""Differential test of the parser's token loop.

``_TreeBuilder.goahead`` handles text and simple tags inline and hands every
other construct to the stdlib ``HTMLParser`` method it stands in for. Driving
the same builder hooks with the stdlib ``HTMLParser.goahead`` must build the
same tree: the same tags, attributes in order, element flags, text and
structure.
"""

from html.parser import HTMLParser

from hypothesis import HealthCheck, given, settings

from readability_spark.dom import parser as P
from tests import crawl_goldens as G
from tests.test_fuzz import tag_soup


class _StdlibLoop(P._TreeBuilder):
    def goahead(self, end):
        return HTMLParser.goahead(self, end)


def tree_of(source: str, stdlib: bool) -> list:
    """Pre-order (tag, attrs, flags, child count) / text entries of the tree
    the builder makes from ``source`` (feed + close, as parse_html does)."""
    builder = (_StdlibLoop if stdlib else P._TreeBuilder)()
    builder.feed(source)
    builder.close()
    out = []
    for node in builder.document.iter():
        if node.is_element:
            out.append((node.tag, list(node.attrs.items()), node._flags, len(node.children)))
        elif node.is_text:
            out.append(node.data)
        else:
            out.append(None)
    return out


@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(tag_soup)
def test_token_loop_matches_stdlib_on_tag_soup(html):
    assert tree_of(html, stdlib=False) == tree_of(html, stdlib=True)


def test_token_loop_matches_stdlib_on_mutated_pages():
    pages = [p for p in G.corpus() if p[0].startswith(("mutated:", "hostile:"))]
    assert len(pages) > G.N_MUTATIONS
    for pid, _, html in pages:
        source = P.decode_html_bytes(html)
        assert tree_of(source, stdlib=False) == tree_of(source, stdlib=True), pid
