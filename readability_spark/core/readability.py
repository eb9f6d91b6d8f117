"""The Readability main-content extraction algorithm, from scratch in Python.

Implements the canonical algorithm behind Firefox Reader View (behavioral
reference: the Mozilla Readability.js bundled in vborovikov/readability, whose
test fixtures this engine must reproduce byte-identically; the C# port's
deviations are deliberately NOT followed — see SURVEY.md §7.0).

The implementation mirrors the *observable behavior* of the reference,
including several of its quirks that are load-bearing for fixture identity:

- ``_clean``/``_cleanConditionally`` compare ``tagName === "object"`` against
  an uppercase DOM tagName, so the <object> innerHTML video check never fires;
  we reproduce that by not performing the innerHTML check at all.
- SVG-namespace elements have a non-string ``className`` in a real DOM, so
  every class-string heuristic skips them (class weight, unlikely-candidate
  matching, the fallback-image exception).
- ``_getCharCount`` splits on the literal ASCII comma, while paragraph scoring
  splits on the nine-variant Unicode comma class.
- JS ``\\s``/``\\W`` character-class semantics (see core/text.py).

Everything here is a pure function of (html DOM, options) — no time, random,
or network dependence — so Spark can retry/repartition freely (SURVEY.md §7.3
determinism requirement).
"""

from __future__ import annotations

import json
import re
from typing import Optional

from readability_spark.core import text as T
from readability_spark.core.css import iter_declarations
from readability_spark.core.urls import DocumentUrl, is_base64_data_url
from readability_spark.dom.node import Comment, Document, Element, Node, Text
from readability_spark.dom.parser import parse_html
from readability_spark.dom.serializer import inner_html

# --------------------------------------------------------------------------
# Behavioral constants (values per the reference; lowercase tag convention)
# --------------------------------------------------------------------------

FLAG_STRIP_UNLIKELYS = 0x1
FLAG_WEIGHT_CLASSES = 0x2
FLAG_CLEAN_CONDITIONALLY = 0x4

DEFAULT_N_TOP_CANDIDATES = 5
DEFAULT_CHAR_THRESHOLD = 500

TAGS_TO_SCORE = frozenset("section h2 h3 h4 h5 h6 p td pre".split())

UNLIKELY_ROLES = frozenset(
    "menu menubar complementary navigation alert alertdialog dialog".split()
)

DIV_TO_P_ELEMS = frozenset("blockquote dl div img ol p pre table ul".split())

ALTER_TO_DIV_EXCEPTIONS = frozenset("div article section p ol ul".split())

PRESENTATIONAL_ATTRIBUTES = (
    "align background bgcolor border cellpadding cellspacing frame hspace "
    "rules style valign vspace".split()
)

DEPRECATED_SIZE_ATTRIBUTE_ELEMS = frozenset("table th td hr pre".split())

PHRASING_ELEMS = frozenset(
    (
        "abbr audio b bdo br button cite code data datalist dfn em embed i img input "
        "kbd label mark math meter noscript object output progress q ruby samp script "
        "select small span strong sub sup textarea time var wbr"
    ).split()
)

CLASSES_TO_PRESERVE = ("page",)

RX_UNLIKELY = re.compile(
    r"-ad-|ai2html|banner|breadcrumbs|combx|comment|community|cover-wrap|disqus|"
    r"extra|footer|gdpr|header|legends|menu|related|remark|replies|rss|shoutbox|"
    r"sidebar|skyscraper|social|sponsor|supplemental|ad-break|agegate|pagination|"
    r"pager|popup|yom-remote",
    re.I,
)
RX_MAYBE_CANDIDATE = re.compile(r"and|article|body|column|content|main|shadow", re.I)
RX_POSITIVE = re.compile(
    r"article|body|content|entry|hentry|h-entry|main|page|pagination|post|text|"
    r"blog|story",
    re.I,
)
RX_NEGATIVE = re.compile(
    r"-ad-|hidden|^hid$| hid$| hid |^hid |banner|combx|comment|com-|contact|"
    r"footer|gdpr|masthead|media|meta|outbrain|promo|related|scroll|share|"
    r"shoutbox|sidebar|skyscraper|sponsor|shopping|tags|widget",
    re.I,
)
RX_BYLINE = re.compile(r"byline|author|dateline|writtenby|p-author", re.I)
RX_VIDEOS = re.compile(
    r"//(www\.)?((dailymotion|youtube|youtube-nocookie|player\.vimeo|v\.qq)\.com|"
    r"(archive|upload\.wikimedia)\.org|player\.twitch\.tv)",
    re.I,
)
RX_SHARE_ELEMENTS = re.compile(r"(\b|_)(share|sharedaddy)(\b|_)", re.I)
RX_HASH_URL = re.compile(r"^#.+")
RX_SRCSET_URL = re.compile(r"(\S+)(\s+[\d.]+[xw])?(\s*(?:,|$))", re.A)
RX_JSONLD_ARTICLE_TYPES = re.compile(
    r"^Article|AdvertiserContentArticle|NewsArticle|AnalysisNewsArticle|"
    r"AskPublicNewsArticle|BackgroundNewsArticle|OpinionNewsArticle|"
    r"ReportageNewsArticle|ReviewNewsArticle|Report|SatiricalArticle|"
    r"ScholarlyArticle|MedicalScholarlyArticle|SocialMediaPosting|BlogPosting|"
    r"LiveBlogPosting|DiscussionForumPosting|TechArticle|APIReference$"
)
RX_SCHEMA_ORG = re.compile(r"^https?://schema\.org/?$")
RX_AD_WORDS = re.compile(
    r"^(ad(vertising|vertisement)?|pub(licité)?|werb(ung)?|广告|Реклама|Anuncio)$", re.I
)
RX_LOADING_WORDS = re.compile(
    r"^((loading|正在加载|Загрузка|chargement|cargando)(…|\.\.\.)?)$", re.I
)
RX_IMG_EXT = re.compile(r"\.(jpg|jpeg|png|webp)", re.I)
RX_SRCSET_LIKE = re.compile(r"\.(jpg|jpeg|png|webp)\s+\d", re.A)
RX_SRC_LIKE = re.compile(r"^\s*\S+\.(jpg|jpeg|png|webp)\S*\s*$", re.A)
RX_TITLE_SEP_TEST = re.compile(r" [\|\-\\/>»] ")
RX_TITLE_HIER_SEP = re.compile(r" [\\/>»] ")
RX_CDATA = re.compile(r"^\s*<!\[CDATA\[|\]\]>\s*$")
RX_PROPERTY_PATTERN = re.compile(
    r"\s*(article|dc|dcterm|og|twitter)\s*:\s*"
    r"(author|creator|description|published_time|title|site_name)\s*",
    re.I,
)
RX_NAME_PATTERN = re.compile(
    r"^\s*(?:(dc|dcterm|og|twitter|parsely|weibo:(article|webpage))\s*[-\.:]\s*)?"
    r"(author|creator|pub-date|description|title|site_name)\s*$",
    re.I,
)
RX_JS_WS = re.compile("[" + "".join("\\u%04x" % ord(c) for c in T.JS_WS_CHARS) + "]")
RX_SENTENCE_DOT = re.compile(r"\.( |$)")
RX_SCHEME = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.\-]*:")

_SVG_CLASS_STRING = "[object SVGAnimatedString]"


def _clone_node(node: Node) -> Node:
    if isinstance(node, Element):
        return node.clone(deep=True)  # iterative, depth-safe, keeps flags
    if isinstance(node, Text):
        return Text(node.data)
    return Comment(node.data)  # type: ignore[union-attr]


# --------------------------------------------------------------------------
# Subtree summaries
# --------------------------------------------------------------------------
#
# The cleanup and scoring predicates ask the same questions of every node of
# a nested structure: how long is its normalised text, how many <p>/<img>/
# <li>/<input> lie below it, how long is the text of its lists, headings and
# "textish" descendants, which anchors and embeds it holds. Answering each by
# a subtree walk costs O(depth^2) on nested pages. The summary answers them
# all from one bottom-up pass: each element's summary is built from its
# children's, memoised on the element (``Element._sum``) and dropped when its
# subtree changes (``dom.node.invalidate``).
#
# A summary is a tuple (packed, n, lead, trail, red, anchors, embeds):
# - ``packed``: integer counters and text-length sums, one 64-bit lane each
#   (``_L_*``), added lane-wise by plain integer addition; ``_L_COMMAS``
#   counts ASCII commas (``_getCharCount``), ``_L_ANY_COMMAS`` the nine
#   comma variants paragraph scoring splits on;
# - (n, lead, trail, red): the text_content length, its leading and trailing
#   JS-whitespace run lengths (lead == n for all-whitespace text) and the
#   characters that collapsing internal runs of >= 2 whitespace characters
#   removes — enough to compose ``len(inner_text)`` exactly from parts;
# - ``anchors`` / ``embeds``: descendant <a> and <object>/<embed>/<iframe>
#   elements in document order; their attributes (hash links, the video
#   allowlist) are read at query time.

_LANE = 64
(
    _L_COMMAS, _L_ANY_COMMAS, _L_P, _L_IMG, _L_LI, _L_INPUT, _L_BR, _L_HR,
    _L_CAPTION, _L_TABLEISH, _L_TABLE, _L_DATA_TABLE, _L_LIST_LEN,
    _L_HEADING_LEN, _L_TEXTISH_LEN,
) = range(15)
_LANE_MASK = (1 << _LANE) - 1

TEXTISH_TAGS = frozenset(("span", "li", "td")) | DIV_TO_P_ELEMS
_HEADINGS = ("h1", "h2", "h3", "h4", "h5", "h6")
_EMBEDS = ("object", "embed", "iframe")


def _build_tag_lanes() -> dict:
    """tag -> (counter increment, text-length multiplier) in packed lanes."""
    counts = {
        "p": _L_P, "img": _L_IMG, "li": _L_LI, "input": _L_INPUT, "br": _L_BR,
        "hr": _L_HR, "caption": _L_CAPTION, "table": _L_TABLE,
        "col": _L_TABLEISH, "colgroup": _L_TABLEISH, "tfoot": _L_TABLEISH,
        "thead": _L_TABLEISH, "th": _L_TABLEISH,
    }
    lengths: dict = {}
    for tag in TEXTISH_TAGS:
        lengths.setdefault(tag, []).append(_L_TEXTISH_LEN)
    for tag in ("ul", "ol"):
        lengths.setdefault(tag, []).append(_L_LIST_LEN)
    for tag in _HEADINGS:
        lengths.setdefault(tag, []).append(_L_HEADING_LEN)
    out = {}
    for tag in counts.keys() | lengths.keys():
        inc = 1 << (_LANE * counts[tag]) if tag in counts else 0
        mul = sum(1 << (_LANE * lane) for lane in lengths.get(tag, ()))
        out[tag] = (inc, mul)
    return out


_TAG_LANES = _build_tag_lanes()
_DATA_TABLE_INC = 1 << (_LANE * _L_DATA_TABLE)
_ANY_COMMA_SHIFT = _LANE * _L_ANY_COMMAS


def _lane(packed: int, lane: int) -> int:
    return (packed >> (_LANE * lane)) & _LANE_MASK


def _norm_len(s: tuple) -> int:
    """len(inner_text(el)) from el's summary."""
    n, lead = s[1], s[2]
    return 0 if lead == n else n - lead - s[3] - s[4]


def _summary(root: Element) -> tuple:
    """The memoised subtree summary of ``root`` (see above); computes the
    stale part of the subtree bottom-up, iteratively (depth-safe)."""
    s = root._sum
    if s is not None:
        return s
    lanes = _TAG_LANES
    ws = T.JS_WS_CHARS
    run2 = T._WS_RUN2
    commas_re = T.COMMAS_RE
    any_shift = _ANY_COMMA_SHIFT
    stack = [root]
    while stack:
        el = stack[-1]
        pending = False
        for c in el.children:
            if c.is_element and c._sum is None:
                stack.append(c)
                pending = True
        if pending:
            continue
        stack.pop()
        if el._sum is not None:  # reached twice through the stack
            continue
        packed = n = lead = trail = red = 0
        anchors: list = []
        embeds: list = []
        for c in el.children:
            if c.is_element:
                cs = c._sum
                cn, cl, ct, cr = cs[1], cs[2], cs[3], cs[4]
                packed += cs[0]
                tag = c.tag
                lane = lanes.get(tag)
                if lane is not None:
                    packed += lane[0]
                    if lane[1]:
                        packed += lane[1] * (0 if cl == cn else cn - cl - ct - cr)
                    if tag == "table" and c._flags & 2:
                        packed += _DATA_TABLE_INC
                if tag == "a":
                    anchors.append(c)
                if cs[5]:
                    anchors.extend(cs[5])
                if tag in _EMBEDS:
                    embeds.append(c)
                if cs[6]:
                    embeds.extend(cs[6])
            elif c.is_text:
                d = c.data
                cn = len(d)
                if not cn:
                    continue
                commas = d.count(",")
                packed += commas + (
                    (commas if d.isascii() else len(commas_re.findall(d))) << any_shift
                )
                core = d.strip(ws)
                if not core:
                    cl = ct = cn
                    cr = 0
                else:
                    cl = cn - len(d.lstrip(ws))
                    ct = cn - len(d.rstrip(ws))
                    cr = len(core) - len(run2.sub(" ", core))
            else:
                continue
            if not cn:
                continue
            # append the child's text to the accumulated text
            if lead == n:  # accumulated text is all whitespace (or empty)
                if cl == cn:
                    n += cn
                    lead = trail = n
                else:
                    lead = n + cl
                    trail = ct
                    red = cr
                    n += cn
            elif cl == cn:
                trail += cn
                n += cn
            else:
                junction = trail + cl
                red += cr + (junction - 1 if junction > 1 else 0)
                trail = ct
                n += cn
        el._sum = (packed, n, lead, trail, red, anchors or (), embeds or ())
        el._fresh = True
    return root._sum


def _in_data_table(el: Optional[Element], memo: dict) -> bool:
    """True iff ``el`` or an ancestor is a table marked as a data table;
    memoised along the path, so a loop over a nested structure stays
    linear."""
    chain = []
    found = False
    while el is not None:
        known = memo.get(el)
        if known is not None:
            found = known
            break
        chain.append(el)
        el = el.parent
    for a in reversed(chain):
        found = found or (a.tag == "table" and a.data_table)
        memo[a] = found
    return found


def _first_truthy(*values):
    for v in values:
        if v:
            return v
    return None




def _parse_int_prefix(s: Optional[str]) -> int:
    """JS parseInt(s, 10): leading integer or 0 (NaN → falsy → caller's || 1)."""
    if not s:
        return 0
    m = re.match(r"\s*[+-]?\d+", s)
    return int(m.group(0)) if m else 0


# Pure-function memos for the per-node regex predicates. Crawl corpora reuse
# a small vocabulary of class/id strings across millions of elements, so the
# unlikely-candidate, class-weight, and inline-style decisions repeat
# endlessly; all three are deterministic functions of the attribute string
# alone, so worker-lifetime memo dicts are byte-identity safe. Capped with a
# wholesale clear (not LRU — hit paths must stay one dict probe).
#
# IMMUTABILITY ASSUMPTION: the memos bake in RX_UNLIKELY / RX_NEGATIVE /
# RX_POSITIVE (and the CSS normalization) at first call. Those module
# regexes are constants — anything that swaps them at runtime (a future
# per-instance override, a test monkeypatch) MUST call clear_predicate_memos()
# or stale verdicts persist for the worker's lifetime. Cached style dicts are
# returned by reference and are READ-ONLY to callers.
_MEMO_CAP = 100_000
_STYLE_MEMO: dict = {}
_UNLIKELY_MEMO: dict = {}
_NEGPOS_MEMO: dict = {}


def clear_predicate_memos() -> None:
    """Reset the predicate memo caches. Required after monkeypatching
    RX_UNLIKELY / RX_MAYBE_CANDIDATE / RX_NEGATIVE / RX_POSITIVE (tests)
    — the memos key only on the attribute string and would otherwise keep
    serving verdicts from the previous regexes."""
    _STYLE_MEMO.clear()
    _UNLIKELY_MEMO.clear()
    _NEGPOS_MEMO.clear()


def _unlikely_verdict(match_string: str) -> "tuple[bool, bool]":
    v = _UNLIKELY_MEMO.get(match_string)
    if v is None:
        v = (
            RX_UNLIKELY.search(match_string) is not None,
            RX_MAYBE_CANDIDATE.search(match_string) is not None,
        )
        if len(_UNLIKELY_MEMO) > _MEMO_CAP:
            _UNLIKELY_MEMO.clear()
        _UNLIKELY_MEMO[match_string] = v
    return v


def _negpos_weight(s: str) -> int:
    w = _NEGPOS_MEMO.get(s)
    if w is None:
        w = 0
        if RX_NEGATIVE.search(s):
            w -= 25
        if RX_POSITIVE.search(s):
            w += 25
        if len(_NEGPOS_MEMO) > _MEMO_CAP:
            _NEGPOS_MEMO.clear()
        _NEGPOS_MEMO[s] = w
    return w


class Readability:
    """Single-document extractor. ``Readability(doc).parse()`` → article dict."""

    def __init__(
        self,
        doc: Document,
        *,
        max_elems_to_parse: int = 0,
        nb_top_candidates: int = DEFAULT_N_TOP_CANDIDATES,
        char_threshold: int = DEFAULT_CHAR_THRESHOLD,
        classes_to_preserve: tuple = (),
        keep_classes: bool = False,
        disable_jsonld: bool = False,
        link_density_modifier: float = 0.0,
        allowed_video_regex=None,
        serialize_content: bool = True,
    ) -> None:
        self._doc = doc
        self._article_title: Optional[str] = None
        self._article_byline: Optional[str] = None
        self._article_dir: Optional[str] = None
        self._article_lang: Optional[str] = None
        self._article_site_name: Optional[str] = None
        self._attempts: list = []
        self._metadata: dict = {}
        self._max_elems_to_parse = max_elems_to_parse
        self._nb_top_candidates = nb_top_candidates
        self._char_threshold = char_threshold
        self._classes_to_preserve = list(CLASSES_TO_PRESERVE) + list(classes_to_preserve)
        self._keep_classes = keep_classes
        self._disable_jsonld = disable_jsonld
        self._allowed_video_regex = allowed_video_regex or RX_VIDEOS
        self._link_density_modifier = link_density_modifier
        # serialize_content=False skips building the content-HTML string and
        # the flat textContent (the text-only Spark path consumes the
        # _articleContent DOM via canonical_text instead); the cleanup and
        # post-processing passes still run, so the DOM is identical.
        self._serialize_content = serialize_content
        self._flags = FLAG_STRIP_UNLIKELYS | FLAG_WEIGHT_CLASSES | FLAG_CLEAN_CONDITIONALLY
        self._doc_url = DocumentUrl.from_document(doc, doc.base_uri)
        # raw source (decoded) for cheap pristine-body restoration on retries
        self._source_html: Optional[str] = None
        # one-walk document snapshot of the prep and metadata phase (see
        # _doc_elements)
        self._snapshot: Optional[list] = None
        self._snapshot_body: tuple = (None, 0, 0)
        self._snapshot_dirty: set = set()

    # ---------------------------------------------------------------- flags
    def _flag_is_active(self, flag: int) -> bool:
        return (self._flags & flag) > 0

    def _remove_flag(self, flag: int) -> None:
        self._flags &= ~flag

    # ------------------------------------------------------------ DOM hygiene
    @staticmethod
    def _class_string(el: Element) -> str:
        """className as the scoring code sees it: real string for HTML
        elements, the object stringification for SVG-namespace elements."""
        if el.is_svg:
            return _SVG_CLASS_STRING
        return el.class_name

    def _match_string(self, el: Element) -> str:
        return self._class_string(el) + " " + el.id

    @staticmethod
    def _inline_style(el: Element) -> dict:
        """Parsed inline style of ``el``. The returned dict may be the
        worker-lifetime _STYLE_MEMO entry itself — treat it as READ-ONLY;
        mutating it would poison the cache for every later document
        sharing the same style string."""
        style = el.get_attr("style")
        if not style:
            return {}
        cached = _STYLE_MEMO.get(style)
        if cached is not None:
            return cached
        out = {}
        for prop, value in iter_declarations(style):
            # CSSOM-style normalization: keyword values lowercased,
            # !important priority stripped from the value
            value = re.sub(r"\s*!\s*important\s*$", "", value, flags=re.I).strip()
            out[prop] = value.lower()
        if len(_STYLE_MEMO) > _MEMO_CAP:
            _STYLE_MEMO.clear()
        _STYLE_MEMO[style] = out
        return out

    def _is_probably_visible(self, el: Element) -> bool:
        style = self._inline_style(el)
        if style.get("display") == "none":
            return False
        if style.get("visibility") == "hidden":
            return False
        if el.has_attr("hidden"):
            return False
        if el.has_attr("aria-hidden") and el.get_attr("aria-hidden") == "true":
            cls = self._class_string(el)
            if not (cls and "fallback-image" in cls):
                return False
        return True

    # -------------------------------------------------------------- traversal
    @staticmethod
    def _next_skip_ws(node: Optional[Node]) -> Optional[Node]:
        """JS _nextNode: skip whitespace-only text nodes among siblings."""
        nxt = node
        while (
            nxt is not None
            and not isinstance(nxt, Element)
            and T.is_all_whitespace(nxt.text_content)
        ):
            nxt = nxt.next_sibling
        return nxt

    @staticmethod
    def _get_ancestors(el: Element, max_depth: int = 0) -> list:
        ancestors = []
        i = 0
        node = el.parent
        while node is not None:
            ancestors.append(node)
            i += 1
            if max_depth and i == max_depth:
                break
            node = node.parent
        return ancestors

    # ------------------------------------------------------ document snapshot
    # The prep and metadata passes take about ten whole-document tag
    # snapshots (document.getElementsByTagName). They come from one walk:
    # the first request records every element with a tag below, in document
    # order, and each request filters that list by current tag. A pass of
    # this phase removes or inserts subtrees only through _detach and
    # _inserted, which record the tags whose membership may have changed
    # below the subtree's root (a removed root itself is recognised by its
    # cleared parent); a request for such a tag walks the document afresh.
    # parse() ends the snapshot after the metadata pass, before the passes
    # that mutate freely.
    _SNAPSHOT_TAGS = frozenset("img noscript script style br font meta title h1 h2".split())

    def _take_snapshot(self) -> list:
        want = self._SNAPSHOT_TAGS
        body = self._doc.body
        body_start = body_end = 0
        body_level = -1
        out: list = []
        # the walk of Element.get_elements_by_tag_name
        lists: list = []
        resume: list = []
        children = self._doc.children
        i, n = 0, len(children)
        while True:
            while i < n:
                node = children[i]
                i += 1
                if node.is_element:
                    if node.tag in want:
                        out.append(node)
                    if node is body:
                        body_start = body_end = len(out)
                    if node.children:
                        lists.append(children)
                        resume.append(i)
                        if node is body:
                            body_level = len(lists)
                        children = node.children
                        i, n = 0, len(children)
            if len(lists) == body_level:
                body_end = len(out)
                body_level = -1
            if not lists:
                break
            children = lists.pop()
            i, n = resume.pop(), len(children)
        self._snapshot_body = (body, body_start, body_end)
        self._snapshot_dirty = set()
        return out

    def _doc_elements(self, *tags: str, within: Optional[Element] = None) -> list:
        """``(within or document).get_elements_by_tag_name(*tags)`` in the
        prep and metadata phase; ``within`` may only be the body."""
        snap = self._snapshot
        if snap is None:
            snap = self._snapshot = self._take_snapshot()
        if not self._snapshot_dirty.isdisjoint(tags) or not self._SNAPSHOT_TAGS.issuperset(tags):
            return (within or self._doc).get_elements_by_tag_name(*tags)
        if within is not None:
            body, start, end = self._snapshot_body
            if within is not body or self._doc.body is not body:
                return within.get_elements_by_tag_name(*tags)
            snap = snap[start:end]
        return [e for e in snap if e.tag in tags and e.parent is not None]

    def _removing(self, node: Node) -> None:
        """Record a subtree the prep phase is about to take out of the
        document."""
        if self._snapshot is not None and node.is_element and node.children:
            self._snapshot_dirty.update(e.tag for e in node.iter_elements())

    def _detach(self, node: Node) -> None:
        """node.remove() in the prep phase, keeping the snapshot exact."""
        self._removing(node)
        node.remove()

    def _inserted(self, node: Node) -> None:
        """Record a subtree the prep phase inserted into the document."""
        if self._snapshot is not None and node.is_element:
            self._snapshot_dirty.update(e.tag for e in node.iter_elements(include_self=True))

    # ------------------------------------------------------------- predicates
    def _is_phrasing_content(self, node: Node) -> bool:
        if isinstance(node, Text):
            return True
        if not isinstance(node, Element):
            return False
        if node.tag in PHRASING_ELEMS:
            return True
        # iterative equivalent of the JS recursion (a/del/ins count as
        # phrasing iff every child is phrasing) — depth-safe for nested links
        if node.tag not in ("a", "del", "ins"):
            return False
        stack = list(node.children)
        while stack:
            c = stack.pop()
            if isinstance(c, Text):
                continue
            if not isinstance(c, Element):
                return False
            if c.tag in PHRASING_ELEMS:
                continue
            if c.tag in ("a", "del", "ins"):
                stack.extend(c.children)
            else:
                return False
        return True

    @staticmethod
    def _is_whitespace(node: Node) -> bool:
        if isinstance(node, Text):
            return T.js_trim(node.data) == ""
        return isinstance(node, Element) and node.tag == "br"

    def _has_single_tag_inside(self, el: Element, tag: str) -> bool:
        kids = el.element_children()
        if len(kids) != 1 or kids[0].tag != tag:
            return False
        return not any(
            isinstance(c, Text) and T.has_content(c.data) for c in el.children
        )

    @staticmethod
    def _is_element_without_content(el: Element) -> bool:
        s = el._sum
        if s is None:
            # the early-exit walk first: most elements have text near the
            # top, and only text-free ones need the br/hr counts
            if el.has_text_content(T.JS_WS_CHARS):
                return False
            s = _summary(el)
        elif s[2] != s[1]:  # not all whitespace
            return False
        kids = el.element_children()
        if not kids:
            return True
        return len(kids) == _lane(s[0], _L_BR) + _lane(s[0], _L_HR)

    def _has_child_block_element(self, el: Element) -> bool:
        # any descendant element with a block tag (iterative — depth-safe)
        stack = [c for c in el.children if c.is_element]
        while stack:
            c = stack.pop()
            if c.tag in DIV_TO_P_ELEMS:
                return True
            for k in c.children:
                if k.is_element:
                    stack.append(k)
        return False

    def _is_valid_byline(self, el: Element, match_string: str) -> bool:
        rel = el.get_attr("rel")
        itemprop = el.get_attr("itemprop")
        # Cheap attribute/regex clause first: only byline-ish elements pay
        # the subtree text walk (same boolean result — `and` short-circuit).
        if not (
            rel == "author"
            or (itemprop is not None and "author" in itemprop)
            or RX_BYLINE.search(match_string) is not None
        ):
            return False
        return 0 < len(T.js_trim(el.text_content)) < 100

    def _header_duplicates_title(self, el: Element) -> bool:
        if el.tag not in ("h1", "h2"):
            return False
        heading = T.inner_text(el, normalize=False)
        return T.text_similarity(self._article_title or "", heading) > 0.75

    # ---------------------------------------------------------------- metrics
    def _get_link_density(self, el: Element) -> float:
        s = _summary(el)
        anchors = s[5]
        if not anchors:
            return 0.0
        text_length = _norm_len(s)
        if text_length == 0:
            return 0.0
        # summed per anchor in document order, as the reference does, so the
        # float result is the same bit for bit
        link_length = 0.0
        for a in anchors:
            href = a.get_attr("href")
            coeff = 0.3 if (href and RX_HASH_URL.match(href)) else 1.0
            link_length += _norm_len(a._sum) * coeff
        return link_length / text_length

    def _get_class_weight(self, el: Element) -> int:
        if not self._flag_is_active(FLAG_WEIGHT_CLASSES):
            return 0
        weight = 0
        if not el.is_svg and el.class_name:
            weight += _negpos_weight(el.class_name)
        if el.id:
            weight += _negpos_weight(el.id)
        return weight

    def _initialize_node(self, el: Element) -> None:
        el.readability = {"contentScore": 0.0}
        tag = el.tag
        if tag == "div":
            el.readability["contentScore"] += 5
        elif tag in ("pre", "td", "blockquote"):
            el.readability["contentScore"] += 3
        elif tag in ("address", "ol", "ul", "dl", "dd", "dt", "li", "form"):
            el.readability["contentScore"] -= 3
        elif tag in ("h1", "h2", "h3", "h4", "h5", "h6", "th"):
            el.readability["contentScore"] -= 5
        el.readability["contentScore"] += self._get_class_weight(el)

    # -------------------------------------------------------------- doc title
    def _doc_title_string(self) -> str:
        """document.title: child text of the first <title>, ASCII-whitespace
        stripped and collapsed (DOM spec; JSDOM follows it)."""
        for el in self._doc_elements("title"):
            return re.sub(r"[\t\n\f\r ]+", " ", el.text_content).strip("\t\n\f\r ")
        return ""

    def _get_article_title(self) -> str:
        cur_title = orig_title = T.js_trim(self._doc_title_string())
        title_had_hierarchical_separators = False

        wc = T.word_count

        if RX_TITLE_SEP_TEST.search(cur_title):
            title_had_hierarchical_separators = RX_TITLE_HIER_SEP.search(cur_title) is not None
            cur_title = re.sub(r"(.*)[\|\-\\/>»] .*", r"\1", orig_title)
            if wc(cur_title) < 3:
                cur_title = re.sub(r"[^\|\-\\/>»]*[\|\-\\/>»](.*)", r"\1", orig_title)
        elif ": " in cur_title:
            headings = self._doc_elements("h1", "h2")
            trimmed = T.js_trim(cur_title)
            match = any(T.js_trim(h.text_content) == trimmed for h in headings)
            if not match:
                cur_title = orig_title[orig_title.rfind(":") + 1 :]
                if wc(cur_title) < 3:
                    cur_title = orig_title[orig_title.find(":") + 1 :]
                elif wc(orig_title[: orig_title.find(":")]) > 5:
                    cur_title = orig_title
        elif len(cur_title) > 150 or len(cur_title) < 15:
            h_ones = self._doc_elements("h1")
            if len(h_ones) == 1:
                cur_title = T.inner_text(h_ones[0])

        cur_title = T._WS_RUN2.sub(" ", T.js_trim(cur_title))
        cur_count = wc(cur_title)
        if cur_count <= 4 and (
            not title_had_hierarchical_separators
            or cur_count != wc(re.sub(r"[\|\-\\/>»]+", "", orig_title)) - 1
        ):
            cur_title = orig_title
        return cur_title

    # ----------------------------------------------------------- doc prep
    def _prep_document(self) -> None:
        for style in self._doc_elements("style"):
            if style.parent is not None:
                self._detach(style)
        body = self._doc.body
        if body is not None:
            self._replace_brs(body)
        for font in self._doc_elements("font"):
            font.set_tag("span")

    def _replace_brs(self, elem: Element) -> None:
        for br in self._doc_elements("br", within=elem):
            if br.parent is None:
                continue
            nxt = br.next_sibling
            replaced = False
            # remove the <br> chain that follows (whitespace-tolerant)
            while True:
                nxt = self._next_skip_ws(nxt)
                if not (isinstance(nxt, Element) and nxt.tag == "br"):
                    break
                replaced = True
                br_sibling = nxt.next_sibling
                self._detach(nxt)
                nxt = br_sibling
            if not replaced:
                continue
            p = Element("p")
            self._removing(br)
            br.replace_with(p)
            nxt = p.next_sibling
            while nxt is not None:
                if isinstance(nxt, Element) and nxt.tag == "br":
                    next_elem = self._next_skip_ws(nxt.next_sibling)
                    if isinstance(next_elem, Element) and next_elem.tag == "br":
                        break
                if not self._is_phrasing_content(nxt):
                    break
                sibling = nxt.next_sibling
                p.append_child(nxt)
                nxt = sibling
            while p.children and self._is_whitespace(p.children[-1]):
                self._detach(p.children[-1])
            if p.parent is not None and p.parent.tag == "p":
                p.parent.set_tag("div")

    # --------------------------------------------------------- noscript images
    def _is_single_image(self, node: Optional[Element]) -> bool:
        while node is not None:
            if node.tag == "img":
                return True
            kids = node.element_children()
            if len(kids) != 1 or T.js_trim(node.text_content) != "":
                return False
            node = kids[0]
        return False

    def _unwrap_noscript_images(self) -> None:
        for img in self._doc_elements("img"):
            keep = False
            for name, value in img.attrs.items():
                if name in ("src", "srcset", "data-src", "data-srcset"):
                    keep = True
                    break
                if RX_IMG_EXT.search(value):
                    keep = True
                    break
            if not keep:
                self._detach(img)

        for noscript in self._doc_elements("noscript"):
            if not self._is_single_image(noscript):
                continue
            tmp = Element("div")
            for c in noscript.children:
                tmp.append_child(_clone_node(c))
            prev = noscript.previous_element_sibling
            if prev is not None and self._is_single_image(prev):
                prev_img = prev
                if prev_img.tag != "img":
                    imgs = prev.get_elements_by_tag_name("img")
                    if not imgs:
                        continue
                    prev_img = imgs[0]
                new_imgs = tmp.get_elements_by_tag_name("img")
                if not new_imgs:
                    continue
                new_img = new_imgs[0]
                for name, value in list(prev_img.attrs.items()):
                    if value == "":
                        continue
                    if name in ("src", "srcset") or RX_IMG_EXT.search(value):
                        if new_img.get_attr(name) == value:
                            continue
                        attr_name = name
                        if new_img.has_attr(attr_name):
                            attr_name = "data-old-" + attr_name
                        new_img.set_attr(attr_name, value)
                first = tmp.first_element_child
                if first is not None:
                    self._removing(prev)
                    prev.replace_with(first)
                    self._inserted(first)

    def _remove_scripts(self) -> None:
        for el in self._doc_elements("script", "noscript"):
            if el.parent is not None:
                self._detach(el)

    # ------------------------------------------------------------- JSON-LD
    def _get_jsonld(self) -> dict:
        metadata: Optional[dict] = None
        for script in self._doc_elements("script"):
            if metadata is not None:
                break
            if script.get_attr("type") != "application/ld+json":
                continue
            try:
                content = RX_CDATA.sub("", script.text_content)
                parsed = json.loads(content)
                context = parsed.get("@context") if isinstance(parsed, dict) else None
                matches = (
                    isinstance(context, str) and RX_SCHEMA_ORG.match(context)
                ) or (
                    isinstance(context, dict)
                    and isinstance(context.get("@vocab"), str)
                    and RX_SCHEMA_ORG.match(context["@vocab"])
                )
                if not matches:
                    continue
                if not parsed.get("@type") and isinstance(parsed.get("@graph"), list):
                    parsed = next(
                        (
                            it
                            for it in parsed["@graph"]
                            if isinstance(it, dict)
                            and RX_JSONLD_ARTICLE_TYPES.search(it.get("@type") or "")
                        ),
                        None,
                    )
                if (
                    not parsed
                    or not parsed.get("@type")
                    or not isinstance(parsed["@type"], str)
                    or not RX_JSONLD_ARTICLE_TYPES.search(parsed["@type"])
                ):
                    continue
                metadata = {}
                name = parsed.get("name")
                headline = parsed.get("headline")
                if isinstance(name, str) and isinstance(headline, str) and name != headline:
                    title = self._get_article_title()
                    name_matches = T.text_similarity(name, title) > 0.75
                    headline_matches = T.text_similarity(headline, title) > 0.75
                    metadata["title"] = headline if (headline_matches and not name_matches) else name
                elif isinstance(name, str):
                    metadata["title"] = T.js_trim(name)
                elif isinstance(headline, str):
                    metadata["title"] = T.js_trim(headline)
                author = parsed.get("author")
                if author:
                    if isinstance(author, dict) and isinstance(author.get("name"), str):
                        metadata["byline"] = T.js_trim(author["name"])
                    elif (
                        isinstance(author, list)
                        and author
                        and isinstance(author[0], dict)
                        and isinstance(author[0].get("name"), str)
                    ):
                        metadata["byline"] = ", ".join(
                            T.js_trim(a["name"])
                            for a in author
                            if isinstance(a, dict) and isinstance(a.get("name"), str)
                        )
                if isinstance(parsed.get("description"), str):
                    metadata["excerpt"] = T.js_trim(parsed["description"])
                publisher = parsed.get("publisher")
                if isinstance(publisher, dict) and isinstance(publisher.get("name"), str):
                    metadata["siteName"] = T.js_trim(publisher["name"])
                if isinstance(parsed.get("datePublished"), str):
                    metadata["datePublished"] = T.js_trim(parsed["datePublished"])
            except Exception:
                continue
        return metadata or {}

    # -------------------------------------------------------------- metadata
    @staticmethod
    def _is_url(s: str) -> bool:
        return RX_SCHEME.match(s) is not None

    def _get_article_metadata(self, jsonld: dict) -> dict:
        values: dict = {}
        for el in self._doc_elements("meta"):
            element_name = el.get_attr("name")
            element_property = el.get_attr("property")
            content = el.get_attr("content")
            if not content:
                continue
            matched = None
            if element_property:
                matched = RX_PROPERTY_PATTERN.search(element_property)
                if matched:
                    key = RX_JS_WS.sub("", matched.group(0).lower())
                    values[key] = T.js_trim(content)
            if not matched and element_name and RX_NAME_PATTERN.search(element_name):
                key = RX_JS_WS.sub("", element_name.lower()).replace(".", ":")
                values[key] = T.js_trim(content)

        metadata: dict = {}
        # Canonical JS precedence chain. Known single-fixture deviation:
        # bug-1255978's expected-metadata.json wants twitter:title over
        # og:title (the port's most-verbose rule), but that rule breaks
        # citylab-1/la-nacion titles AND citylab-1's text identity, so the JS
        # chain is authoritative here (SURVEY.md §7.0).
        metadata["title"] = _first_truthy(
            jsonld.get("title"),
            values.get("dc:title"),
            values.get("dcterm:title"),
            values.get("og:title"),
            values.get("weibo:article:title"),
            values.get("weibo:webpage:title"),
            values.get("title"),
            values.get("twitter:title"),
            values.get("parsely-title"),
        )
        if not metadata["title"]:
            metadata["title"] = self._get_article_title()

        article_author = values.get("article:author")
        if not (isinstance(article_author, str) and not self._is_url(article_author)):
            article_author = None
        metadata["byline"] = _first_truthy(
            jsonld.get("byline"),
            values.get("dc:creator"),
            values.get("dcterm:creator"),
            values.get("author"),
            values.get("parsely-author"),
            article_author,
        )
        metadata["excerpt"] = _first_truthy(
            jsonld.get("excerpt"),
            values.get("dc:description"),
            values.get("dcterm:description"),
            values.get("og:description"),
            values.get("weibo:article:description"),
            values.get("weibo:webpage:description"),
            values.get("description"),
            values.get("twitter:description"),
        )
        metadata["siteName"] = _first_truthy(jsonld.get("siteName"), values.get("og:site_name"))
        metadata["publishedTime"] = _first_truthy(
            jsonld.get("datePublished"),
            values.get("article:published_time"),
            values.get("parsely-pub-date"),
        )

        for key in ("title", "byline", "excerpt", "siteName", "publishedTime"):
            metadata[key] = T.unescape_html_entities(metadata[key])
        return metadata

    # ------------------------------------------------------------ grabArticle
    def _restore_page(self, page: Element) -> bool:
        """Rebuild pristine body content for a flag-sieve retry.

        The reference caches the prepped body's serialized HTML up front and
        re-parses it on retry; re-running (parse → unwrap-noscript →
        remove-scripts → prep) on the raw source is semantically identical
        (all passes are deterministic) and moves the cost off the common
        no-retry path — most documents never retry.
        """
        if self._source_html is None:
            return False
        doc2 = parse_html(self._source_html, base_uri=self._doc.base_uri)
        r2 = Readability(doc2)
        r2._unwrap_noscript_images()
        r2._remove_scripts()
        r2._prep_document()
        body2 = doc2.body
        if body2 is None:
            return False
        for c in list(page.children):
            c.remove()
        for c in list(body2.children):
            page.append_child(c)
        return True

    def _grab_article(self) -> Optional[Element]:
        page = self._doc.body
        if page is None:
            return None
        # pristine body content for the flag-sieve retries: lazily rebuilt
        # from the raw source when available, else cloned up front
        page_cache = (
            None
            if self._source_html is not None
            else [_clone_node(c) for c in page.children]
        )

        while True:
            strip_unlikely = self._flag_is_active(FLAG_STRIP_UNLIKELYS)
            elements_to_score: list = []
            node: Optional[Element] = self._doc.document_element
            should_remove_title_header = True

            while node is not None:
                if node.tag == "html":
                    self._article_lang = node.get_attr("lang")

                match_string = self._match_string(node)

                if not self._is_probably_visible(node):
                    node = node.remove_and_get_next()
                    continue

                if node.get_attr("aria-modal") == "true" and node.get_attr("role") == "dialog":
                    node = node.remove_and_get_next()
                    continue

                if (
                    not self._article_byline
                    and not self._metadata.get("byline")
                    and self._is_valid_byline(node, match_string)
                ):
                    self._article_byline = T.js_trim(node.text_content)
                    node = node.remove_and_get_next()
                    continue

                if should_remove_title_header and self._header_duplicates_title(node):
                    should_remove_title_header = False
                    node = node.remove_and_get_next()
                    continue

                if strip_unlikely:
                    unlikely, maybe_candidate = _unlikely_verdict(match_string)
                    if (
                        unlikely
                        and not maybe_candidate
                        and not node.has_ancestor_tag("table")
                        and not node.has_ancestor_tag("code")
                        and node.tag != "body"
                        and node.tag != "a"
                    ):
                        node = node.remove_and_get_next()
                        continue
                    if (node.get_attr("role") or "") in UNLIKELY_ROLES:
                        node = node.remove_and_get_next()
                        continue

                if node.tag in (
                    "div", "section", "header", "h1", "h2", "h3", "h4", "h5", "h6",
                ) and self._is_element_without_content(node):
                    node = node.remove_and_get_next()
                    continue

                if node.tag in TAGS_TO_SCORE:
                    elements_to_score.append(node)

                if node.tag == "div":
                    # wrap phrasing-content runs into <p>
                    p: Optional[Element] = None
                    child = node.children[0] if node.children else None
                    while child is not None:
                        next_sibling = child.next_sibling
                        if self._is_phrasing_content(child):
                            if p is not None:
                                p.append_child(child)
                            elif not self._is_whitespace(child):
                                p = Element("p")
                                child.replace_with(p)
                                p.append_child(child)
                        elif p is not None:
                            while p.children and self._is_whitespace(p.children[-1]):
                                p.children[-1].remove()
                            p = None
                        child = next_sibling

                    if (
                        self._has_single_tag_inside(node, "p")
                        and self._get_link_density(node) < 0.25
                    ):
                        new_node = node.element_children()[0]
                        node.replace_with(new_node)
                        node = new_node
                        elements_to_score.append(node)
                    elif not self._has_child_block_element(node):
                        node.set_tag("p")
                        elements_to_score.append(node)

                node = node.next_node()

            # score paragraphs, propagate to ancestors
            candidates: list = []
            for element in elements_to_score:
                parent = element.parent
                if parent is None or not isinstance(parent, Element) or parent.tag == "#document":
                    continue
                es = _summary(element)
                inner_length = _norm_len(es)  # len(inner_text(element))
                if inner_length < 25:
                    continue
                ancestors = self._get_ancestors(element, 5)
                if not ancestors:
                    continue
                content_score = 1.0
                # comma_split_count(inner_text(element))
                content_score += _lane(es[0], _L_ANY_COMMAS) + 1
                content_score += min(inner_length // 100, 3)
                for level, ancestor in enumerate(ancestors):
                    # skip ancestors without a tag name or whose parent has
                    # none (the document node and <html> in practice)
                    if (
                        not isinstance(ancestor, Element)
                        or ancestor.tag == "#document"
                        or ancestor.parent is None
                        or ancestor.parent.tag == "#document"
                    ):
                        continue
                    if ancestor.readability is None:
                        self._initialize_node(ancestor)
                        candidates.append(ancestor)
                    divider = 1.0 if level == 0 else (2.0 if level == 1 else level * 3.0)
                    ancestor.readability["contentScore"] += content_score / divider

            # link-density scale + top-N insertion sort
            top_candidates: list = []
            for candidate in candidates:
                score = candidate.readability["contentScore"] * (
                    1 - self._get_link_density(candidate)
                )
                candidate.readability["contentScore"] = score
                for t in range(self._nb_top_candidates):
                    a_top = top_candidates[t] if t < len(top_candidates) else None
                    if a_top is None or score > a_top.readability["contentScore"]:
                        top_candidates.insert(t, candidate)
                        if len(top_candidates) > self._nb_top_candidates:
                            top_candidates.pop()
                        break

            top_candidate = top_candidates[0] if top_candidates else None
            needed_to_create_top_candidate = False

            if top_candidate is None or top_candidate.tag == "body":
                top_candidate = Element("div")
                needed_to_create_top_candidate = True
                for child in list(page.children):
                    top_candidate.append_child(child)
                page.append_child(top_candidate)
                self._initialize_node(top_candidate)
            else:
                alternative_ancestors = []
                top_score = top_candidate.readability["contentScore"]
                for i in range(1, len(top_candidates)):
                    # JS x/0 is NaN/Infinity, never a throw; a zero top score
                    # makes the ratio NaN → comparison false
                    if (
                        top_score != 0
                        and top_candidates[i].readability["contentScore"] / top_score >= 0.75
                    ):
                        alternative_ancestors.append(self._get_ancestors(top_candidates[i]))
                MIN_TOPCANDIDATES = 3
                if len(alternative_ancestors) >= MIN_TOPCANDIDATES:
                    parent_of_top = top_candidate.parent
                    while parent_of_top is not None and parent_of_top.tag != "body":
                        lists_containing = 0
                        for anc_list in alternative_ancestors:
                            if lists_containing >= MIN_TOPCANDIDATES:
                                break
                            lists_containing += int(parent_of_top in anc_list)
                        if lists_containing >= MIN_TOPCANDIDATES:
                            top_candidate = parent_of_top
                            break
                        parent_of_top = parent_of_top.parent
                if top_candidate.readability is None:
                    self._initialize_node(top_candidate)

                # parent climb
                parent_of_top = top_candidate.parent
                last_score = top_candidate.readability["contentScore"]
                score_threshold = last_score / 3.0
                while parent_of_top is not None and parent_of_top.tag != "body":
                    if parent_of_top.readability is None:
                        parent_of_top = parent_of_top.parent
                        continue
                    parent_score = parent_of_top.readability["contentScore"]
                    if parent_score < score_threshold:
                        break
                    if parent_score > last_score:
                        top_candidate = parent_of_top
                        break
                    last_score = parent_score
                    parent_of_top = parent_of_top.parent

                # single-child climb
                parent_of_top = top_candidate.parent
                while (
                    parent_of_top is not None
                    and parent_of_top.tag != "body"
                    and len(parent_of_top.element_children()) == 1
                ):
                    top_candidate = parent_of_top
                    parent_of_top = top_candidate.parent
                if top_candidate.readability is None:
                    self._initialize_node(top_candidate)

            # sibling absorption
            article_content = Element("div")
            article_content.set_attr("id", "readability-content")
            sibling_score_threshold = max(
                10.0, top_candidate.readability["contentScore"] * 0.2
            )
            parent_of_top = top_candidate.parent
            assert parent_of_top is not None
            for sibling in list(parent_of_top.element_children()):
                append = False
                if sibling is top_candidate:
                    append = True
                else:
                    content_bonus = 0.0
                    if (
                        sibling.class_name == top_candidate.class_name
                        and top_candidate.class_name != ""
                    ):
                        content_bonus += top_candidate.readability["contentScore"] * 0.2
                    if (
                        sibling.readability is not None
                        and sibling.readability["contentScore"] + content_bonus
                        >= sibling_score_threshold
                    ):
                        append = True
                    elif sibling.tag == "p":
                        link_density = self._get_link_density(sibling)
                        node_content = T.inner_text(sibling)
                        node_length = len(node_content)
                        if node_length > 80 and link_density < 0.25:
                            append = True
                        elif (
                            0 < node_length < 80
                            and link_density == 0
                            and RX_SENTENCE_DOT.search(node_content)
                        ):
                            append = True
                if append:
                    if sibling.tag not in ALTER_TO_DIV_EXCEPTIONS:
                        sibling.set_tag("div")
                    article_content.append_child(sibling)

            self._prep_article(article_content)

            if needed_to_create_top_candidate:
                top_candidate.set_attr("id", "readability-page-1")
                top_candidate.set_attr("class", "page")
            else:
                div = Element("div")
                div.set_attr("id", "readability-page-1")
                div.set_attr("class", "page")
                for child in list(article_content.children):
                    div.append_child(child)
                article_content.append_child(div)

            parse_successful = True
            text_length = len(T.inner_text(article_content, True))
            if text_length < self._char_threshold:
                parse_successful = False
                # restore pristine page content for the retry
                if page_cache is not None:
                    for c in list(page.children):
                        c.remove()
                    for c in page_cache:
                        page.append_child(_clone_node(c))
                else:
                    self._restore_page(page)
                self._attempts.append(
                    {"articleContent": article_content, "textLength": text_length}
                )
                if self._flag_is_active(FLAG_STRIP_UNLIKELYS):
                    self._remove_flag(FLAG_STRIP_UNLIKELYS)
                elif self._flag_is_active(FLAG_WEIGHT_CLASSES):
                    self._remove_flag(FLAG_WEIGHT_CLASSES)
                elif self._flag_is_active(FLAG_CLEAN_CONDITIONALLY):
                    self._remove_flag(FLAG_CLEAN_CONDITIONALLY)
                else:
                    self._attempts.sort(key=lambda a: -a["textLength"])
                    if not self._attempts[0]["textLength"]:
                        return None
                    article_content = self._attempts[0]["articleContent"]
                    parse_successful = True

            if parse_successful:
                ancestors = [parent_of_top, top_candidate] + self._get_ancestors(
                    parent_of_top
                )
                for ancestor in ancestors:
                    if not isinstance(ancestor, Element) or ancestor.tag == "#document":
                        continue
                    article_dir = ancestor.get_attr("dir")
                    if article_dir:
                        self._article_dir = article_dir
                        break
                return article_content

    # ------------------------------------------------------------ prepArticle
    def _prep_article(self, article_content: Element) -> None:
        self._clean_styles(article_content)
        self._mark_data_tables(article_content)
        self._fix_lazy_images(article_content)

        self._clean_conditionally(article_content, "form")
        self._clean_conditionally(article_content, "fieldset")
        self._clean_many(
            article_content, ("object", "embed", "footer", "link", "aside")
        )

        share_element_threshold = DEFAULT_CHAR_THRESHOLD
        for top in article_content.element_children():
            self._clean_matched_nodes(
                top,
                lambda node, match_string: RX_SHARE_ELEMENTS.search(match_string)
                is not None
                and len(node.text_content) < share_element_threshold,
            )

        self._clean_many(
            article_content, ("iframe", "input", "textarea", "select", "button")
        )
        self._clean_headers(article_content)

        self._clean_conditionally(article_content, "table")
        self._clean_conditionally(article_content, "ul")
        self._clean_conditionally(article_content, "div")

        for h1 in article_content.get_elements_by_tag_name("h1"):
            h1.set_tag("h2")

        # remove empty paragraphs
        for paragraph in reversed(article_content.get_elements_by_tag_name("p")):
            if paragraph.parent is None:
                continue
            if not paragraph.has_descendant_tag(
                "img", "embed", "object", "iframe"
            ) and not T.inner_text(paragraph, normalize=False):
                paragraph.remove()

        for br in article_content.get_elements_by_tag_name("br"):
            if br.parent is None:
                continue
            nxt = self._next_skip_ws(br.next_sibling)
            if isinstance(nxt, Element) and nxt.tag == "p":
                br.remove()

        # unwrap single-cell tables
        for table in article_content.get_elements_by_tag_name("table"):
            if table.parent is None:
                continue
            tbody = (
                table.first_element_child
                if self._has_single_tag_inside(table, "tbody")
                else table
            )
            if tbody is not None and self._has_single_tag_inside(tbody, "tr"):
                row = tbody.first_element_child
                if row is not None and self._has_single_tag_inside(row, "td"):
                    cell = row.first_element_child
                    assert cell is not None
                    cell.set_tag(
                        "p"
                        if all(self._is_phrasing_content(c) for c in cell.children)
                        else "div"
                    )
                    table.replace_with(cell)

    def _clean_styles(self, el: Element) -> None:
        # iterative pre-order walk, skipping svg subtrees entirely (the JS
        # recursion early-returns on svg, leaving its descendants untouched)
        stack = [el]
        while stack:
            node = stack.pop()
            if node.tag == "svg":
                continue
            attrs = node.attrs
            if attrs and not attrs.keys().isdisjoint(PRESENTATIONAL_ATTRIBUTES):
                for attr in PRESENTATIONAL_ATTRIBUTES:
                    attrs.pop(attr, None)
            if node.tag in DEPRECATED_SIZE_ATTRIBUTE_ELEMS:
                attrs.pop("width", None)
                attrs.pop("height", None)
            for c in node.children:
                if c.is_element:
                    stack.append(c)

    def _mark_data_tables(self, root: Element) -> None:
        for table in root.get_elements_by_tag_name("table"):
            if table.get_attr("role") == "presentation":
                table.set_data_table(False)
                continue
            if table.get_attr("datatable") == "0":
                table.set_data_table(False)
                continue
            if table.get_attr("summary"):
                table.set_data_table(True)
                continue
            packed = _summary(table)[0]
            if _lane(packed, _L_CAPTION):
                caption = next(e for e in table.iter_elements() if e.tag == "caption")
                if caption.children:
                    table.set_data_table(True)
                    continue
            if _lane(packed, _L_TABLEISH):  # col, colgroup, tfoot, thead, th
                table.set_data_table(True)
                continue
            if _lane(packed, _L_TABLE):
                table.set_data_table(False)
                continue
            rows, columns = self._get_row_and_column_count(table)
            if columns == 1 or rows == 1:
                table.set_data_table(False)
                continue
            if rows >= 10 or columns > 4:
                table.set_data_table(True)
                continue
            table.set_data_table(rows * columns > 10)

    @staticmethod
    def _get_row_and_column_count(table: Element) -> tuple:
        rows = 0
        columns = 0
        for tr in table.get_elements_by_tag_name("tr"):
            rows += _parse_int_prefix(tr.get_attr("rowspan")) or 1
            row_cols = 0
            for td in tr.get_elements_by_tag_name("td"):
                row_cols += _parse_int_prefix(td.get_attr("colspan")) or 1
            columns = max(columns, row_cols)
        return rows, columns

    def _fix_lazy_images(self, root: Element) -> None:
        for elem in root.get_elements_by_tag_name("img", "picture", "figure"):
            src = elem.get_attr("src") or ""
            m = is_base64_data_url(src)
            if src and m:
                if m.group(1) != "image/svg+xml":
                    src_could_be_removed = False
                    for name, value in elem.attrs.items():
                        if name == "src":
                            continue
                        if RX_IMG_EXT.search(value):
                            src_could_be_removed = True
                            break
                    if src_could_be_removed:
                        b64_starts = len(m.group(0))
                        if len(src) - b64_starts < 133:
                            elem.remove_attr("src")

            src = elem.get_attr("src") or ""
            srcset = elem.get_attr("srcset") or ""
            if (src or (srcset and srcset != "null")) and "lazy" not in (
                "" if elem.is_svg else elem.class_name.lower()
            ):
                continue
            for name, value in list(elem.attrs.items()):
                if name in ("src", "srcset", "alt"):
                    continue
                copy_to = None
                if RX_SRCSET_LIKE.search(value):
                    copy_to = "srcset"
                elif RX_SRC_LIKE.search(value):
                    copy_to = "src"
                if copy_to:
                    if elem.tag in ("img", "picture"):
                        elem.set_attr(copy_to, value)
                    elif elem.tag == "figure" and not elem.get_elements_by_tag_name(
                        "img", "picture"
                    ):
                        img = Element("img")
                        img.set_attr(copy_to, value)
                        elem.append_child(img)

    def _clean(self, el: Element, tag: str) -> None:
        self._clean_many(el, (tag,))

    def _clean_many(self, el: Element, tags) -> None:
        """Fused multi-tag ``_clean``: one snapshot walk instead of one per
        tag. Equivalent to sequential per-tag passes — each node's keep/
        remove decision depends only on its own tag and attrs, and removing
        a node whose ancestor was already detached is a no-op on the
        serialized tree (the sequential version simply never revisits such
        nodes because later snapshots exclude them)."""
        for node in reversed(el.get_elements_by_tag_name(*tags)):
            if node.parent is None:
                continue
            if node.tag in ("object", "embed", "iframe"):
                if any(
                    self._allowed_video_regex.search(v) for v in node.attrs.values()
                ):
                    continue
                # NOTE: the reference's <object> innerHTML check is dead code
                # (uppercase tagName compared to "object"), so we skip it too.
            node.remove()

    def _clean_matched_nodes(self, el: Element, filter_fn) -> None:
        end_of_search = el.next_node(ignore_self_and_kids=True)
        nxt = el.next_node()
        while nxt is not None and nxt is not end_of_search:
            if filter_fn(nxt, self._match_string(nxt)):
                nxt = nxt.remove_and_get_next()
            else:
                nxt = nxt.next_node()

    def _clean_headers(self, el: Element) -> None:
        for node in reversed(el.get_elements_by_tag_name("h1", "h2")):
            if node.parent is None:
                continue
            if self._get_class_weight(node) < 0:
                node.remove()

    def _clean_conditionally(self, el: Element, tag: str) -> None:
        if not self._flag_is_active(FLAG_CLEAN_CONDITIONALLY):
            return
        # element -> "it or an ancestor is a data table"; the removals below
        # never detach a node from a data-table ancestor (a node under one
        # is kept), so entries stay true for the whole loop
        in_data_table: dict = {}
        for node in reversed(el.get_elements_by_tag_name(tag)):
            if node.parent is None:
                continue
            if self._should_remove_conditionally(
                node, tag, _in_data_table(node.parent, in_data_table)
            ):
                node.remove()

    def _should_remove_conditionally(
        self, node: Element, tag: str, under_data_table: bool
    ) -> bool:
        s = _summary(node)
        packed = s[0]
        content_length = _norm_len(s)  # len(inner_text(node))

        is_list = tag in ("ul", "ol")
        if not is_list:
            list_length = _lane(packed, _L_LIST_LEN)
            is_list = content_length > 0 and list_length / content_length > 0.9

        if tag == "table" and node.data_table:
            return False
        if under_data_table:
            return False
        if node.has_ancestor_tag("code"):
            return False
        if _lane(packed, _L_DATA_TABLE):
            return False

        weight = self._get_class_weight(node)
        if weight < 0:
            return True

        if _lane(packed, _L_COMMAS) < 10:
            p = _lane(packed, _L_P)
            img = _lane(packed, _L_IMG)
            li = _lane(packed, _L_LI) - 100
            inputs = _lane(packed, _L_INPUT)
            heading_density = (
                _lane(packed, _L_HEADING_LEN) / content_length if content_length else 0.0
            )

            embed_count = 0
            for embed in s[6]:
                if any(
                    self._allowed_video_regex.search(v) for v in embed.attrs.values()
                ):
                    return False
                # (object innerHTML check dead in reference; skipped)
                embed_count += 1

            # both patterns match whole words of at most 13 characters
            if 0 < content_length <= 20:
                inner = T.inner_text(node)
                if RX_AD_WORDS.search(inner) or RX_LOADING_WORDS.search(inner):
                    return True

            link_density = self._get_link_density(node)
            text_density = (
                _lane(packed, _L_TEXTISH_LEN) / content_length if content_length else 0.0
            )
            is_figure_child = node.has_ancestor_tag("figure")

            have_to_remove = (
                (not is_figure_child and img > 1 and p / img < 0.5)
                or (not is_list and li > p)
                or (inputs > p // 3)
                or (
                    not is_list
                    and not is_figure_child
                    and heading_density < 0.9
                    and content_length < 25
                    and (img == 0 or img > 2)
                    and link_density > 0
                )
                or (
                    not is_list
                    and weight < 25
                    and link_density > 0.2 + self._link_density_modifier
                )
                or (weight >= 25 and link_density > 0.5 + self._link_density_modifier)
                or ((embed_count == 1 and content_length < 75) or embed_count > 1)
                or (img == 0 and text_density == 0)
            )

            if is_list and have_to_remove:
                for child in node.element_children():
                    if len(child.element_children()) > 1:
                        return have_to_remove
                if img == _lane(packed, _L_LI):
                    return False
            return have_to_remove
        return False

    # -------------------------------------------------------- post-processing
    def _post_process_content(self, article_content: Element) -> None:
        self._fix_relative_uris(article_content)
        self._simplify_nested_elements(article_content)
        if not self._keep_classes:
            self._clean_classes(article_content)

    def _fix_relative_uris(self, article_content: Element) -> None:
        doc_url = self._doc_url
        if doc_url is None:
            # no resolvable base (JS: about:blank base → resolution no-ops),
            # but javascript: link unwrapping below still applies
            def to_abs(uri: str) -> str:
                return uri

        else:

            def to_abs(uri: str) -> str:
                return doc_url.to_absolute(uri)

        for link in article_content.get_elements_by_tag_name("a"):
            href = link.get_attr("href")
            if not href:
                continue
            if href.startswith("javascript:"):
                if len(link.children) == 1 and isinstance(link.children[0], Text):
                    link.replace_with(Text(link.text_content))
                else:
                    container = Element("span")
                    for c in list(link.children):
                        container.append_child(c)
                    link.replace_with(container)
            else:
                link.set_attr("href", to_abs(href))

        for media in article_content.get_elements_by_tag_name(
            "img", "picture", "figure", "video", "audio", "source"
        ):
            src = media.get_attr("src")
            poster = media.get_attr("poster")
            srcset = media.get_attr("srcset")
            if src:
                media.set_attr("src", to_abs(src))
            if poster:
                media.set_attr("poster", to_abs(poster))
            if srcset:
                new_srcset = RX_SRCSET_URL.sub(
                    lambda m: to_abs(m.group(1)) + (m.group(2) or "") + m.group(3),
                    srcset,
                )
                media.set_attr("srcset", new_srcset)

    def _simplify_nested_elements(self, article_content: Element) -> None:
        node: Optional[Element] = article_content
        while node is not None:
            if (
                node.parent is not None
                and node.tag in ("div", "section")
                and not node.id.startswith("readability")
            ):
                if self._is_element_without_content(node):
                    node = node.remove_and_get_next()
                    continue
                if self._has_single_tag_inside(node, "div") or self._has_single_tag_inside(
                    node, "section"
                ):
                    child = node.element_children()[0]
                    for name, value in node.attrs.items():
                        child.set_attr(name, value)
                    node.replace_with(child)
                    node = child
                    continue
            node = node.next_node()

    def _clean_classes(self, el: Element) -> None:
        # iterative pre-order walk (depth-safe)
        stack = [el]
        while stack:
            node = stack.pop()
            preserved = [c for c in node.class_list() if c in self._classes_to_preserve]
            if preserved:
                node.set_attr("class", " ".join(preserved))
            else:
                node.remove_attr("class")
            for c in node.children:
                if c.is_element:
                    stack.append(c)

    # ------------------------------------------------------------------ parse
    def parse(self) -> Optional[dict]:
        if self._max_elems_to_parse > 0:
            num_tags = len(self._doc.get_elements_by_tag_name("*"))
            if num_tags > self._max_elems_to_parse:
                raise ValueError(f"Aborting parsing document; {num_tags} elements found")

        self._unwrap_noscript_images()
        jsonld = {} if self._disable_jsonld else self._get_jsonld()
        self._remove_scripts()
        self._prep_document()

        metadata = self._get_article_metadata(jsonld)
        self._snapshot = None  # the passes below mutate without recording
        self._metadata = metadata
        self._article_title = metadata["title"]

        article_content = self._grab_article()
        if article_content is None:
            return None

        self._post_process_content(article_content)

        if not metadata.get("excerpt"):
            paragraphs = article_content.get_elements_by_tag_name("p")
            if paragraphs:
                metadata["excerpt"] = T.js_trim(paragraphs[0].text_content)

        text_content = (
            article_content.text_content if self._serialize_content else None
        )
        return {
            "title": self._article_title,
            "byline": metadata.get("byline") or self._article_byline,
            "dir": self._article_dir,
            "lang": self._article_lang,
            "content": inner_html(article_content) if self._serialize_content else None,
            "textContent": text_content,
            "length": len(text_content) if text_content is not None else None,
            "excerpt": metadata.get("excerpt"),
            "siteName": metadata.get("siteName") or self._article_site_name,
            "publishedTime": metadata.get("publishedTime"),
            "_articleContent": article_content,
        }


class NotReaderable(Exception):
    """A page that failed the readerable prefilter of :func:`extract_article`."""


def extract_article(
    html: "str | bytes",
    url: Optional[str] = None,
    readerable_prefilter: bool = False,
    **options,
) -> Optional[dict]:
    """Convenience one-shot: parse HTML bytes/str and run Readability.

    ``readerable_prefilter`` runs isProbablyReaderable on the parsed DOM
    first and raises :class:`NotReaderable` for a page that fails it,
    before the grab and cleanup passes (one parse serves both)."""
    from readability_spark.dom.parser import decode_html_bytes

    if isinstance(html, (bytes, bytearray, memoryview)):
        html = decode_html_bytes(bytes(html))
    doc = parse_html(html, base_uri=url)
    if readerable_prefilter:
        from readability_spark.core.readerable import is_probably_readerable

        if not is_probably_readerable(doc):
            raise NotReaderable(url)
    reader = Readability(doc, **options)
    reader._source_html = html
    return reader.parse()
