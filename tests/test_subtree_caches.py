"""Position hints and subtree caches stay exact under mutation.

Sibling steps read a per-node position hint, and the extraction core reads
memoised subtree summaries and cached texts that a mutation drops only along
the mutated node's ancestor path. After any sequence of mutations each must
equal what a fresh walk of the current tree gives.
"""

import random

from hypothesis import given, settings
from hypothesis import strategies as st

from readability_spark.core import readability as R
from readability_spark.core import text as T
from readability_spark.dom.node import Element, Text
from readability_spark.dom.parser import parse_html

PAGE = (
    "<html><body><div class='a'><p>One, two,  three</p> <ul><li>x</li><li>y, z</li></ul>"
    "<table><caption>c</caption><tr><td>1</td><td>2</td></tr></table>"
    "<div><a href='#h'>hash</a> <a href='/x'>link  text</a><iframe src='v'></iframe>"
    "<h2>Head</h2><span>s  t</span><img src=i.jpg><input><br><hr></div>"
    "<section><div><div><p>deep\n\n text，more</p></div></div></section></div>"
    "<p>  </p><div>tail</div></body></html>"
)

TAGS = ("div", "p", "span", "a", "ul", "li", "table", "h1", "img", "br", "iframe")


def fresh_text(el) -> str:
    return "".join(n.data for n in el.iter() if n.is_text)


def fresh_norm_len(el) -> int:
    return len(T._WS_RUN2.sub(" ", T.js_trim(fresh_text(el))))


def fresh_summary(el) -> dict:
    below = el.get_elements_by_tag_name("*")

    def count(*tags):
        return sum(1 for e in below if e.tag in tags)

    def length(tags):
        return sum(fresh_norm_len(e) for e in below if e.tag in tags)

    text = fresh_text(el)
    return {
        "norm_len": fresh_norm_len(el),
        "all_ws": not text.strip(T.JS_WS_CHARS),
        "commas": text.count(","),
        "any_commas": len(T.COMMAS_RE.findall(text)),
        "p": count("p"), "img": count("img"), "li": count("li"),
        "input": count("input"), "br": count("br"), "hr": count("hr"),
        "caption": count("caption"), "table": count("table"),
        "tableish": count("col", "colgroup", "tfoot", "thead", "th"),
        "data_tables": sum(1 for e in below if e.tag == "table" and e.data_table),
        "list_len": length(("ul", "ol")),
        "heading_len": length(R._HEADINGS),
        "textish_len": length(R.TEXTISH_TAGS),
        "anchors": [e for e in below if e.tag == "a"],
        "embeds": [e for e in below if e.tag in ("object", "embed", "iframe")],
    }


def cached_summary(el) -> dict:
    s = R._summary(el)
    lane = lambda k: R._lane(s[0], k)  # noqa: E731
    return {
        "norm_len": R._norm_len(s),
        "all_ws": s[2] == s[1],
        "commas": lane(R._L_COMMAS),
        "any_commas": lane(R._L_ANY_COMMAS),
        "p": lane(R._L_P), "img": lane(R._L_IMG), "li": lane(R._L_LI),
        "input": lane(R._L_INPUT), "br": lane(R._L_BR), "hr": lane(R._L_HR),
        "caption": lane(R._L_CAPTION), "table": lane(R._L_TABLE),
        "tableish": lane(R._L_TABLEISH),
        "data_tables": lane(R._L_DATA_TABLE),
        "list_len": lane(R._L_LIST_LEN),
        "heading_len": lane(R._L_HEADING_LEN),
        "textish_len": lane(R._L_TEXTISH_LEN),
        "anchors": list(s[5]),
        "embeds": list(s[6]),
    }


def mutate(rng: random.Random, root, elements: list) -> None:
    attached = [e for e in elements if e is root or _inside(e, root)]
    el = rng.choice(attached)
    op = rng.randrange(8)
    if op == 0 and el is not root:
        el.remove()
    elif op == 1 and el.children:
        rng.choice(el.children).remove()
    elif op == 2:
        new = Element(rng.choice(TAGS))
        new.append_child(Text(rng.choice(["a, b", "  ", "word", "\n\n"])))
        elements.append(new)
        el.append_child(new)
    elif op == 3 and el.parent is not None and el is not root:
        other = rng.choice(elements)
        if other is not el and not _inside(el, other) and other is not root:
            rng.choice([el.insert_before, el.insert_after])(other)
    elif op == 4 and el.parent is not None and el is not root and el.children:
        child = rng.choice(el.children)
        el.replace_with(child)
    elif op == 5:
        el.set_tag(rng.choice(TAGS))
    elif op == 6:
        el.set_data_table(rng.random() < 0.5)
    elif el is not root:
        el.append_child(Text(rng.choice([",", "，", " x ", " "])))


def _inside(node, root) -> bool:
    while node is not None:
        if node is root:
            return True
        node = node.parent
    return False


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=0, max_value=10**6))
def test_hints_and_caches_match_fresh_walk_after_mutations(seed):
    rng = random.Random(seed)
    doc = parse_html(PAGE)
    root = doc.body
    elements = [e for e in root.iter() if e.is_element]
    for _ in range(40):
        mutate(rng, root, elements)
        live = [e for e in root.iter() if e.is_element]
        # query a random sample so caches fill at different depths
        for el in rng.sample(live, min(4, len(live))):
            assert cached_summary(el) == fresh_summary(el)
            assert el.text_content == fresh_text(el)
            assert T.inner_text(el) == T._WS_RUN2.sub(" ", T.js_trim(fresh_text(el)))
            assert el.has_text_content(T.JS_WS_CHARS) == bool(
                fresh_text(el).strip(T.JS_WS_CHARS)
            )
        nodes = list(root.iter(include_self=False))
        for node in rng.sample(nodes, min(5, len(nodes))):
            sibs = node.parent.children
            i = next(k for k, c in enumerate(sibs) if c is node)
            assert node.index_in_parent == i
            assert node.next_sibling is (sibs[i + 1] if i + 1 < len(sibs) else None)
            assert node.previous_sibling is (sibs[i - 1] if i > 0 else None)
