"""DOM parser/serializer unit tests."""

from readability_spark.dom import Element, Text, inner_html, parse_html
from readability_spark.dom.parser import decode_html_bytes


def test_basic_structure():
    doc = parse_html("<html><head><title>T</title></head><body><p>hi</p></body></html>")
    assert doc.document_element is not None
    assert doc.head is not None and doc.body is not None
    assert doc.body.first_element_child.tag == "p"
    assert doc.body.text_content == "hi"


def test_implied_structure_created():
    doc = parse_html("<p>loose content</p>")
    assert doc.body is not None
    assert doc.body.first_element_child.tag == "p"


def test_head_content_distribution():
    doc = parse_html("<title>T</title><meta charset='utf-8'><p>body text</p>")
    assert doc.head.get_elements_by_tag_name("title")
    assert doc.body.text_content == "body text"


def test_p_auto_close():
    doc = parse_html("<body><p>one<p>two<div>three</div></body>")
    ps = doc.body.get_elements_by_tag_name("p")
    assert [p.text_content for p in ps] == ["one", "two"]
    assert doc.body.get_elements_by_tag_name("div")[0].text_content == "three"


def test_li_auto_close():
    doc = parse_html("<ul><li>a<li>b<li>c</ul>")
    lis = doc.get_elements_by_tag_name("li")
    assert [li.text_content for li in lis] == ["a", "b", "c"]


def test_table_cells_auto_close():
    doc = parse_html("<table><tr><td>a<td>b<tr><td>c</table>")
    assert len(doc.get_elements_by_tag_name("tr")) == 2
    assert len(doc.get_elements_by_tag_name("td")) == 3


def test_void_elements():
    doc = parse_html("<body>a<br>b<img src='x.png'>c</body>")
    assert doc.body.text_content == "abc"
    assert len(doc.body.children) == 5


def test_entities_decoded():
    doc = parse_html("<body><p title='a&amp;b'>&lt;x&gt; &#65;</p></body>")
    p = doc.get_elements_by_tag_name("p")[0]
    assert p.text_content == "<x> A"
    assert p.get_attr("title") == "a&b"


def test_script_raw_text():
    doc = parse_html("<body><script>if (a &lt; b) { x; }</script>after</body>")
    script = doc.get_elements_by_tag_name("script")[0]
    assert "&lt;" in script.text_content  # charrefs NOT decoded in raw text


def test_comments_dropped():
    doc = parse_html("<body><p>a<!-- comment -->b</p></body>")
    p = doc.get_elements_by_tag_name("p")[0]
    assert p.text_content == "ab"
    assert len(p.children) == 1  # adjacent text merged


def test_svg_marked():
    doc = parse_html("<body><svg class='x'><circle/></svg></body>")
    svg = doc.get_elements_by_tag_name("svg")[0]
    assert svg.is_svg
    assert svg.get_elements_by_tag_name("circle")[0].is_svg


def test_self_closing_non_void_is_open_tag():
    doc = parse_html("<body><span/>text</body>")
    span = doc.get_elements_by_tag_name("span")[0]
    assert span.text_content == "text"


def test_serializer_roundtrip():
    doc = parse_html('<body><div id="d" class="c">x &amp; <br>y</div></body>')
    html = inner_html(doc.body)
    assert html == '<div id="d" class="c">x &amp; <br>y</div>'


def test_mutation_helpers():
    doc = parse_html("<body><div><p>a</p><p>b</p></div></body>")
    div = doc.get_elements_by_tag_name("div")[0]
    p1, p2 = div.element_children()
    p1.replace_with(Element("h2"))
    assert div.first_element_child.tag == "h2"
    p2.insert_before(Text("t"))
    assert isinstance(div.children[1], Text)


def test_next_node_traversal():
    doc = parse_html("<body><div><p>a</p></div><section>s</section></body>")
    div = doc.get_elements_by_tag_name("div")[0]
    p = div.first_element_child
    assert p.next_node().tag == "section"
    assert div.next_node().tag == "p"
    assert div.next_node(ignore_self_and_kids=True).tag == "section"


def test_decode_bytes_meta_charset():
    raw = '<html><head><meta charset="iso-8859-1"></head><body>caf\xe9</body></html>'.encode(
        "iso-8859-1"
    )
    assert "café" in decode_html_bytes(raw)


def test_decode_bytes_utf8_bom():
    assert decode_html_bytes(b"\xef\xbb\xbf<p>x</p>") == "<p>x</p>"


def test_deep_dom_no_recursion_error():
    """Broken crawl HTML nests thousands of unclosed tags deep; every walker
    (parse, text_content, tag-name query, clone, serialize, canonical_text,
    full extraction) must be iterative (ADVICE r1: recursion regression)."""
    depth = 5000
    html = "<body>" + "<span>" * depth + "deep text" + "</span>" * depth + "</body>"
    doc = parse_html(html)
    body = doc.body
    assert "deep text" in body.text_content
    spans = body.get_elements_by_tag_name("span")
    assert len(spans) == depth
    copy = body.clone(deep=True)
    assert len(copy.get_elements_by_tag_name("span")) == depth
    assert "deep text" in inner_html(body)

    from readability_spark.core.text import canonical_text
    assert canonical_text(body) == "deep text"

    from readability_spark.core.readability import extract_article
    res = extract_article(html, url="https://example.com/deep")
    assert res.get("err") is None or "Recursion" not in str(res.get("err", ""))


def test_clone_preserves_flags_and_text():
    doc = parse_html("<body><div id=x class=y><p>hello <b>world</b></p></div></body>")
    div = doc.get_elements_by_tag_name("div")[0]
    c = div.clone(deep=True)
    assert c.tag == "div" and c.id == "x" and c.class_name == "y"
    assert c.text_content == div.text_content
    assert c.parent is None
    # mutating the clone must not touch the original
    c.get_elements_by_tag_name("b")[0].remove()
    assert "world" in div.text_content and "world" not in c.text_content


def test_clone_preserves_root_flags():
    doc = parse_html("<body><svg><circle/></svg></body>")
    svg = doc.get_elements_by_tag_name("svg")[0]
    assert svg.is_svg
    assert svg.clone(deep=True).is_svg  # root flags copied, not just descendants


def test_to_id_string():
    from readability_spark.dom.serializer import to_id_string

    doc = parse_html('<body><div id="a" class="x y"></div><p id="b"></p><span class="z"></span><em></em></body>')
    div, p, span, em = (doc.get_elements_by_tag_name(t)[0] for t in ("div", "p", "span", "em"))
    assert to_id_string(div) == 'div#a."x y"'
    assert to_id_string(p) == "p#b"
    assert to_id_string(span) == 'span."z"'
    assert to_id_string(em) == "em"


def test_pretty_html_shape():
    from readability_spark.dom.serializer import pretty_html

    doc = parse_html("<body><div id=a><p>hello <b>world</b></p><img src=x></div></body>")
    out = pretty_html(doc.body)
    lines = out.splitlines()
    # block elements on their own lines, nested indentation, void self-closed
    assert lines[0] == "<body>"
    assert '    <div id="a">' in lines
    assert any(l.strip() == "<p>" for l in lines)
    assert any(l.strip() == 'hello <b>world</b>' or "hello" in l for l in lines)
    assert any(l.strip() == '<img src="x" />' for l in lines)
    assert lines[-1] == "</body>"
    # inline content stays on one line with the text
    assert "<b>world</b>" in out


def test_pretty_html_deep_no_recursion():
    from readability_spark.dom.serializer import pretty_html

    doc = parse_html("<body>" + "<div>" * 3000 + "x" + "</div>" * 3000 + "</body>")
    out = pretty_html(doc.body)
    assert "x" in out


def test_fast_starttag_path_matches_stdlib():
    """The token loop's inline start/end-tag paths must consume exactly what
    the stdlib tolerant path consumes, producing an identical DOM — on
    simple tags (where they engage) and on every pathological shape (where
    they must fall back rather than diverge)."""
    from tests.test_parser_differential import tree_of

    cases = [
        '<a href="x">t</a>', '<a href=x>t</a>', '<br/>', '<img src=a/>',
        '<a href=x/ >', '<a href==x>', '<a b&c=1>', '<a title="a>b">x',
        '<a title="a&amp;b">x', "<a b='c' d>", '<A HREF="X">',
        '<a  b = "c" >', '<input checked>', '<input checked="">',
        '<a b="c"d=e>', '<a/class=x>', '<a href=http://e.com/p?q=1#f>',
        '<a data-x.y:z=1>', '<p style="a;b:c">', '<a href=a<b>',
        '<a ="x">', '<a b= >', '<a b="c" />', '<a b=`t`>',
        '<svg><circle r=1/></svg>', '<script>var a = "<b>";</script>',
        '<a\tb="c">', '<a\nb="c">', '<a b="c&#64;d">', '<a b>',
        '<p class>', '<em FOO=bar>', '<a 0bad=1>', '<a -x=1>',
        '<a b=c=d>', "<a b=\"c\" d='e' f=g h>", '<a href="x" / >',
        '<a href=x//>', '<div><p><a', '<div></DIV>', '<p>x</p >', '</ p>',
        '<div><span>x</span></div></div></p>', '<ul><li>a<li>b</ul>',
        '<table><tr><td>a<td>b</table>', '<p>a<div>b</div>', '<br></br>',
        '<head><title>t</title><p>x', '<script>a</script', 'x &amp',
    ]
    for c in cases:
        assert tree_of(c, stdlib=False) == tree_of(c, stdlib=True), c


def test_has_text_content_matches_full_walk():
    # early-exit predicate must agree with the full text_content walk on
    # every element of a mixed DOM, before and after cache fills
    from readability_spark.core.text import JS_WS_CHARS

    doc = parse_html(
        "<div><p>    </p><span></span><ul><li>x</li></ul>"
        "<section><article>\n\t</article><b>deep<i> </i></b></section></div>"
    )
    elements = [el for el in doc.iter() if el.is_element]
    for el in elements:
        expected = bool(el.text_content.strip(JS_WS_CHARS))
        # cache is now warm for el — both paths again, then on a cold clone
        assert el.has_text_content(JS_WS_CHARS) == expected
    # mutate: predicate must track the new epoch, not stale caches
    from readability_spark.dom.node import Text as TextNode

    empty = next(el for el in elements if el.tag == "span")
    empty.append_child(TextNode("now full"))
    assert empty.has_text_content(JS_WS_CHARS) is True


def test_has_descendant_tag_matches_snapshot():
    doc = parse_html(
        "<div><p><img src='x'></p><ul><li><object></object></li></ul></div>"
    )
    for el in [e for e in doc.iter() if e.is_element]:
        for names in (("img",), ("object", "iframe"), ("video",), ("p", "li")):
            assert el.has_descendant_tag(*names) == bool(
                el.get_elements_by_tag_name(*names)
            ), (el.tag, names)
