"""Tolerant HTML → DOM parser built on stdlib ``html.parser``.

From-scratch replacement for the external parsers the reference relies on
(Brackets on the C# side, JSDOM on the Mozilla test harness). Implements the
subset of HTML5 tree-construction the fixture corpus exercises:

- void elements, raw-text elements (script/style handled by html.parser's
  CDATA mode — char refs inside are NOT decoded, matching spec),
- implied end tags (p closed by block starts, li/dt/dd/tr/td/th/option chains),
- html/head/body normalization for sloppy or fragment inputs,
- self-closing syntax honored only for void or foreign (svg/math) content,
- entity decoding in text and attribute values (html.parser does both;
  invalid numeric refs map per the HTML5 table, e.g. → U+FFFD).

Charset detection for raw bytes: UTF-8 strict → meta charset sniff →
charset_normalizer fallback → UTF-8 with replacement.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser
from typing import Optional

from readability_spark.dom.node import Comment, Document, Element, Text

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Start tags that imply </p> when a <p> is in (button) scope.
_P_CLOSERS = frozenset(
    (
        "address article aside blockquote details dialog dir div dl fieldset figcaption "
        "figure footer form h1 h2 h3 h4 h5 h6 header hgroup hr main menu nav ol p pre "
        "section summary table ul listing center"
    ).split()
)

# Scope boundaries: never auto-close past these.
_SCOPE_BOUNDARY = frozenset(
    "html body table td th caption applet object marquee template svg math".split()
)

# tag -> (tags it auto-closes, boundary tags for the search)
_AUTO_CLOSE = {
    "li": (frozenset({"li"}), frozenset({"ul", "ol", "menu", "dir"})),
    "dt": (frozenset({"dt", "dd"}), frozenset({"dl"})),
    "dd": (frozenset({"dt", "dd"}), frozenset({"dl"})),
    "tr": (frozenset({"tr", "td", "th"}), frozenset({"table", "thead", "tbody", "tfoot"})),
    "td": (frozenset({"td", "th"}), frozenset({"tr", "table"})),
    "th": (frozenset({"td", "th"}), frozenset({"tr", "table"})),
    "thead": (frozenset({"thead", "tbody", "tfoot", "tr", "td", "th"}), frozenset({"table"})),
    "tbody": (frozenset({"thead", "tbody", "tfoot", "tr", "td", "th"}), frozenset({"table"})),
    "tfoot": (frozenset({"thead", "tbody", "tfoot", "tr", "td", "th"}), frozenset({"table"})),
    "option": (frozenset({"option"}), frozenset({"select", "optgroup", "datalist"})),
    "optgroup": (frozenset({"option", "optgroup"}), frozenset({"select"})),
    "colgroup": (frozenset({"colgroup"}), frozenset({"table"})),
}

_HEAD_CONTENT = frozenset(
    "title meta link base style script noscript template".split()
)

_FOREIGN = frozenset({"svg", "math"})

_META_CHARSET_RE = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([a-zA-Z0-9_\-]+)""", re.I
)


# Fast-path tag recognition for the token loop (see _TreeBuilder.goahead).
# Each pattern is deliberately NARROWER than the stdlib tolerant grammar: a
# tag the fast regex matches is one the stdlib path would consume to the
# same end position with the same (tag, attrs) result; everything else
# (entities in values needing unescape, '>'/'<'/quotes inside values,
# '='-less chains, doubled '=', attribute names with exotic characters,
# whitespace inside end tags, unterminated tags) fails the match and takes
# the stdlib path.
_FAST_ATTR_BODY = (
    r"\s+{o}[a-zA-Z_:][a-zA-Z0-9_:.\-]*{c}"  # simple attribute name
    r"(?:\s*=\s*{o}"
    r"\"[^\"&<]*\""                          # double-quoted, no charrefs
    r"|'[^'&<]*'"                            # single-quoted, no charrefs
    r"|[^\s=>&\"'<]+"                        # unquoted (may include '/')
    r"{c})?"
)
_FAST_STARTTAG = re.compile(
    r"<([a-zA-Z][a-zA-Z0-9.:_\-]*)"
    r"((?:" + _FAST_ATTR_BODY.format(o="(?:", c=")") + r")*)"
    r"\s*(/?)>"
)
_FAST_ATTR = re.compile(_FAST_ATTR_BODY.format(o="(", c=")"))
_FAST_ENDTAG = re.compile(r"</([a-zA-Z][-.a-zA-Z0-9:_]*)>")
_STARTTAG_OPEN = re.compile(r"<[a-zA-Z]")
_AMP_END = re.compile(r"[\s;]")

_STRUCTURAL = ("html", "head", "body")
# tags whose push/pop also updates a builder flag (_push, _close_top)
_STACK_FLAGGED = frozenset({"head"}) | _FOREIGN


def _attr_dict(attrs) -> dict:
    """stdlib (name, value) pairs -> the element's attribute dict: names
    lowercased, the first of duplicate names wins, valueless -> ""."""
    out: dict = {}
    for name, value in attrs:
        name = name.lower()
        if name and name not in out:
            out[name] = value if value is not None else ""
    return out


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.document = Document()
        self.stack: list[Element] = [self.document]
        # tag -> how many elements with that tag are on the open stack: an
        # end tag or an implied close whose tag is not open is a no-op, found
        # in O(1) instead of by a stack scan (O(depth^2) on deep crawl HTML)
        self._open_tags: dict = {}
        self._foreign_depth = 0
        # True only while a <head> element is on the open stack — lets
        # _exit_head_if_open early-return without scanning the stack on
        # every start tag (O(depth^2) on deeply nested crawl HTML).
        self._head_open = False

    # -- helpers -----------------------------------------------------------
    def updatepos(self, i: int, j: int) -> int:  # noqa: D102
        # HTMLParser tracks (lineno, offset) for error messages by scanning
        # every consumed span for newlines; nothing here reads positions, and
        # the scan showed up at ~4% of parse time on the golden corpus.
        return j

    def goahead(self, end: int) -> None:
        """The stdlib ``HTMLParser.goahead`` loop (convert_charrefs=True),
        with text, simple start tags and simple end tags handled inline.

        The stdlib loop costs several regex matches, an unescape and three
        or four method calls per tag; here one anchored regex recognises a
        tag whose attributes are simple and the node is appended directly.
        Every other construct (comments, declarations, CDATA-mode content,
        tags the fast regexes cannot prove simple, incomplete input) goes to
        the stdlib method the stdlib loop would call, and the tree is the
        same either way (differential tests:
        tests/test_parser_differential.py)."""
        rawdata = self.rawdata
        i = 0
        n = len(rawdata)
        find = rawdata.find
        startswith = rawdata.startswith
        fast_start = _FAST_STARTTAG.match
        fast_end = _FAST_ENDTAG.match
        attr_list = _FAST_ATTR.findall
        stack = self.stack
        open_tags = self._open_tags
        open_keys = open_tags.keys()
        cdata_tags = self.CDATA_CONTENT_ELEMENTS
        while i < n:
            cdata = self.cdata_elem
            if not cdata:
                j = find("<", i)
                if j < 0:
                    # a charref may be cut in half at the end of a feed
                    amppos = rawdata.rfind("&", max(i, n - 34))
                    if amppos >= 0 and not _AMP_END.search(rawdata, amppos):
                        break
                    j = n
            else:
                match = self.interesting.search(rawdata, i)
                if not match:
                    break
                j = match.start()
            if i < j:
                data = rawdata[i:j]
                if cdata:
                    self.handle_data(data)
                else:
                    if "&" in data:
                        data = unescape(data)
                    top = stack[-1]
                    if top.tag == "head":
                        self.handle_data(data)
                    elif data:
                        kids = top.children
                        if kids and kids[-1].is_text:
                            kids[-1].data += data
                        else:
                            t = Text(data)
                            t.parent = top
                            t._pos = len(kids)
                            kids.append(t)
            i = j
            if i == n:
                break
            # rawdata[i] == "<": convert_charrefs leaves no "&" branch
            m = None if cdata else fast_start(rawdata, i)
            if m is not None:
                tag, raw_attrs, self_closing = m.groups()
                if not tag.islower():
                    tag = tag.lower()
                attrs: dict = {}
                if raw_attrs:
                    # findall gives "" for a valueless attribute, and a
                    # matched value is never empty
                    for name, value in attr_list(raw_attrs):
                        if value and value[0] in "\"'":
                            value = value[1:-1]
                        if not name.islower():
                            name = name.lower()
                        if name not in attrs:
                            attrs[name] = value
                if self_closing:
                    self._startend(tag, attrs)
                elif (
                    self._foreign_depth
                    or self._head_open
                    or tag in _STRUCTURAL
                    or tag in cdata_tags
                    or tag in _FOREIGN
                ):
                    self._start(tag, attrs)
                    if tag in cdata_tags:
                        self.set_cdata_mode(tag)
                else:
                    # in-body start tag: _start minus the cases above
                    rule = _AUTO_CLOSE.get(tag)
                    if (tag in _P_CLOSERS and "p" in open_tags) or (
                        rule is not None and not open_keys.isdisjoint(rule[0])
                    ):
                        self._close_implied(tag)
                    top = stack[-1]
                    el = Element(tag, attrs)
                    if top._flags & 1:
                        el._flags = 1
                    kids = top.children
                    el.parent = top
                    el._pos = len(kids)
                    kids.append(el)
                    if tag not in VOID_ELEMENTS:
                        stack.append(el)
                        open_tags[tag] = open_tags.get(tag, 0) + 1
                i = m.end()
                continue
            m = None if cdata else fast_end(rawdata, i)
            if m is not None:
                tag = m.group(1)
                if not tag.islower():
                    tag = tag.lower()
                if (
                    stack[-1].tag == tag
                    and len(stack) > 1
                    and tag not in VOID_ELEMENTS
                    and tag not in _STACK_FLAGGED
                ):
                    stack.pop()
                    count = open_tags[tag] - 1
                    if count:
                        open_tags[tag] = count
                    else:
                        del open_tags[tag]
                else:
                    self.handle_endtag(tag)
                i = m.end()
                continue
            if _STARTTAG_OPEN.match(rawdata, i):
                k = self.parse_starttag(i)
            elif startswith("</", i):
                k = self.parse_endtag(i)
            elif startswith("<!--", i):
                k = self.parse_comment(i)
            elif startswith("<?", i):
                k = self.parse_pi(i)
            elif startswith("<!", i):
                k = self.parse_html_declaration(i)
            elif (i + 1) < n:
                self.handle_data("<")
                k = i + 1
            else:
                break
            if k < 0:
                if not end:
                    break
                k = find(">", i + 1)
                if k < 0:
                    k = find("<", i + 1)
                    if k < 0:
                        k = i + 1
                else:
                    k += 1
                if self.cdata_elem:
                    self.handle_data(rawdata[i:k])
                else:
                    self.handle_data(unescape(rawdata[i:k]))
            i = k
        if end and i < n and not self.cdata_elem:
            self.handle_data(unescape(rawdata[i:n]))
            i = n
        self.rawdata = rawdata[i:]

    @property
    def top(self) -> Element:
        return self.stack[-1]

    def _open(self, tag: str, attrs: dict) -> Element:
        el = Element(tag, attrs)
        top = self.stack[-1]
        if tag == "svg" or top.is_svg:
            el.mark_svg()
        top.append_child(el)
        self._push(el)
        return el

    def _push(self, el: Element) -> None:
        self.stack.append(el)
        tag = el.tag
        self._open_tags[tag] = self._open_tags.get(tag, 0) + 1
        if tag in _FOREIGN:
            self._foreign_depth += 1
        elif tag == "head":
            self._head_open = True

    def _close_top(self) -> None:
        el = self.stack.pop()
        tag = el.tag
        self._open_tags[tag] -= 1
        if not self._open_tags[tag]:
            del self._open_tags[tag]
        if tag == "head":
            self._head_open = False
        if tag in _FOREIGN:
            self._foreign_depth -= 1

    def _close_implied(self, tag: str) -> None:
        """Pop elements implied-closed by a new start tag."""
        stack = self.stack
        if tag in _P_CLOSERS and "p" in self._open_tags:
            # close an open <p> within scope
            for i in range(len(stack) - 1, 0, -1):
                t = stack[i].tag
                if t == "p":
                    while len(stack) > i:
                        self._close_top()
                    break
                if t in _SCOPE_BOUNDARY:
                    break
        rule = _AUTO_CLOSE.get(tag)
        if rule is not None:
            closes, boundary = rule
            if self._open_tags.keys().isdisjoint(closes):
                return
            for i in range(len(stack) - 1, 0, -1):
                t = stack[i].tag
                if t in closes:
                    while len(stack) > i:
                        self._close_top()
                    break
                if t in boundary or t in ("html", "body"):
                    break

    def _exit_head_if_open(self) -> None:
        """HTML5 'in head' mode: flow content implies </head> and <body> —
        pages that omit <body> (common in minified crawl HTML) must not
        accumulate their whole article inside <head>."""
        if not self._head_open:
            return
        head_idx = None
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == "head":
                head_idx = i
                break
        if head_idx is None:
            return
        while len(self.stack) > head_idx:
            self._close_top()
        html = self.stack[-1] if self.stack[-1].tag == "html" else self.document.document_element
        if html is None:
            return
        body = None
        for c in html.children:
            if isinstance(c, Element) and c.tag == "body":
                body = c
                break
        if body is None:
            body = Element("body")
            html.append_child(body)
        if self.stack[-1] is html:
            self._push(body)

    def _start(self, tag: str, attrs: dict) -> None:
        """A start tag (lowercase name, attribute dict)."""
        if (
            self._foreign_depth == 0
            and tag not in _HEAD_CONTENT
            and tag not in ("html", "head")
        ):
            self._exit_head_if_open()
        if tag in _STRUCTURAL:
            # merge attrs into existing structural element if present
            existing = None
            if tag == "html":
                existing = self.document.document_element
            elif self.document.document_element is not None:
                for c in self.document.document_element.children:
                    if isinstance(c, Element) and c.tag == tag:
                        existing = c
                        break
            if existing is not None:
                for name, value in attrs.items():
                    if name not in existing.attrs:
                        existing.attrs[name] = value
                if existing not in self.stack:
                    # re-enter (e.g. content after a premature </body>)
                    self._push(existing)
                return
        if self._foreign_depth == 0:
            self._close_implied(tag)
        self._open(tag, attrs)
        if tag in VOID_ELEMENTS and self._foreign_depth == 0:
            self._close_top()

    def _startend(self, tag: str, attrs: dict) -> None:
        """A self-closing start tag ``<tag .../>``."""
        if self._foreign_depth > 0 or tag in VOID_ELEMENTS:
            if self._foreign_depth == 0:
                self._close_implied(tag)
            self._open(tag, attrs)
            self._close_top()
        else:
            # HTML semantics: <div/> is just an open tag
            self._start(tag, attrs)

    # -- HTMLParser hooks -----------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        self._start(tag.lower(), _attr_dict(attrs))

    def handle_startendtag(self, tag: str, attrs) -> None:
        self._startend(tag.lower(), _attr_dict(attrs))

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        if tag in VOID_ELEMENTS or tag not in self._open_tags:
            return  # unmatched end tag: ignore
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                while len(self.stack) > i:
                    self._close_top()
                return
            # don't let a stray end tag close past a scope boundary
            if self.stack[i].tag in _SCOPE_BOUNDARY and tag not in _SCOPE_BOUNDARY:
                return

    def handle_data(self, data: str) -> None:
        if not data:
            return
        if self.top.tag == "head" and data.strip():
            self._exit_head_if_open()
        top = self.top
        last = top.children[-1] if top.children else None
        if isinstance(last, Text):
            last.data += data
        else:
            top.append_child(Text(data))

    def handle_comment(self, data: str) -> None:
        # Comments are dropped at parse time (the reference pipeline's parser
        # does the same; no golden fixture contains one, and keeping them
        # would break phrasing-content runs differently than the reference).
        pass

    def handle_decl(self, decl: str) -> None:  # doctype — ignored
        pass

    def unknown_decl(self, data: str) -> None:
        # CDATA sections (foreign content); treat payload as text there.
        if data.startswith("CDATA[") and self._foreign_depth > 0:
            self.handle_data(data[6:])

    def handle_pi(self, data: str) -> None:
        pass


def _normalize_structure(doc: Document) -> None:
    """Ensure the document has html > (head, body) and every stray top-level
    node lands in the right place (light emulation of HTML5 tree construction
    for sloppy/fragment inputs)."""
    html = doc.document_element
    if html is None:
        html = Element("html")
        for child in list(doc.children):
            html.append_child(child)
        doc.append_child(html)
    else:
        # adopt stray siblings of <html> into it
        for child in list(doc.children):
            if child is not html and not isinstance(child, Comment):
                html.append_child(child)

    head = None
    body = None
    for c in html.children:
        if isinstance(c, Element):
            if c.tag == "head" and head is None:
                head = c
            elif c.tag == "body" and body is None:
                body = c
    if head is None:
        head = Element("head")
        html.children.insert(0, head)
        head.parent = html
    if body is None:
        body = Element("body")
        html.append_child(body)

    # distribute stray direct children of <html>
    seen_body = False
    pre_body_idx = 0  # stray pre-<body> content goes at the START of body
    for child in list(html.children):
        if child is head:
            continue
        if child is body:
            seen_body = True
            continue
        if isinstance(child, Comment):
            continue
        if isinstance(child, Text) and not child.data.strip():
            child.remove()
            continue
        if (
            not seen_body
            and isinstance(child, Element)
            and child.tag in _HEAD_CONTENT
        ):
            head.append_child(child)
        elif seen_body:
            body.append_child(child)
        else:
            child.remove()
            body.children.insert(pre_body_idx, child)
            child.parent = body
            pre_body_idx += 1


def parse_html(source: "str | bytes", base_uri: Optional[str] = None) -> Document:
    """Parse an HTML document (str or raw bytes) into a Document tree."""
    if isinstance(source, (bytes, bytearray, memoryview)):
        source = decode_html_bytes(bytes(source))
    builder = _TreeBuilder()
    try:
        builder.feed(source)
        builder.close()
    except Exception:
        # html.parser is robust, but guarantee we never raise on garbage input
        pass
    doc = builder.document
    _normalize_structure(doc)
    doc.base_uri = base_uri
    return doc


def decode_html_bytes(raw: bytes) -> str:
    """Charset detection: BOM/UTF-8 strict → <meta charset> sniff → best-effort."""
    if raw.startswith(b"\xef\xbb\xbf"):
        return raw[3:].decode("utf-8", "replace")
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        pass
    m = _META_CHARSET_RE.search(raw[:4096])
    if m:
        enc = m.group(1).decode("ascii", "ignore")
        try:
            return raw.decode(enc, "replace")
        except LookupError:
            pass
    try:
        from charset_normalizer import from_bytes

        best = from_bytes(raw).best()
        if best is not None:
            return str(best)
    except Exception:
        pass
    return raw.decode("utf-8", "replace")
