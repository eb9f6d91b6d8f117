"""Token-density candidate finder (reference parity: ArticleCandidate.cs).

The C# reference replaces Readability.js's paragraph scoring with its own
finder: every block-level parent element is scored by
``tokens / (markup + log2(tokens)) * density * element_factor * ln(depth)``,
the top-K candidates are reconciled through an ancestry cascade, and the
winner is elected. This module reimplements that algorithm from scratch in
Python (reference behavior: ``Readability/ArticleCandidate.cs:56-331``,
helper semantics from the public Brackets/FuzzyCompare packages
reconstructed via the HTML5 spec — tag categories, permitted content,
default layout, token classes). Verified against the reference's own
elected-path expectations (``test/SampleTests.cs:287-455``) in
``tests/test_tokenfinder_parity.py``.

This finder is exposed as an *alternative elector* (SURVEY.md §2.5); the
default pipeline keeps JS semantics (§7.0) because the golden text corpus
encodes ``_grabArticle``.
"""

from __future__ import annotations

import math
import unicodedata
from typing import Iterator, Optional

from readability_spark.core.css import iter_declarations
from readability_spark.dom.node import Element

DEFAULT_TOP_CANDIDATES = 5

# ---------------------------------------------------------------------------
# HTML5 tag metadata (Brackets-equivalent reconstruction)
# ---------------------------------------------------------------------------

# elements whose default CSS display is not inline: the candidate pool
BLOCK_TAGS = frozenset(
    """
    address article aside blockquote body center details dialog dd div dl dt
    fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header hgroup
    html li listing main menu nav ol p plaintext pre section summary table
    caption colgroup thead tbody tfoot tr td th ul dir frameset noframes
    """.split()
)

# metadata content category
METADATA_TAGS = frozenset("base link meta noscript script style template title".split())

# script-supporting
SCRIPT_TAGS = frozenset("script template".split())

# form-associated elements (+ form itself and its structural children)
FORM_TAGS = frozenset(
    "button datalist fieldset form input label legend meter optgroup option output progress select textarea".split()
)

# elements that ARE phrasing content
PHRASING_TAGS = frozenset(
    """
    a abbr audio b bdi bdo br button canvas cite code data datalist del dfn
    em embed i iframe img input ins kbd label map mark math meter noscript
    object output picture progress q rp rt ruby s samp script select slot
    small span strong sub sup svg template textarea time u var video wbr
    font tt big strike acronym nobr
    """.split()
)

# elements whose PERMITTED content includes phrasing (flow or phrasing
# models). Transparent-content elements (a, ins, del, object, video, audio,
# map, canvas) are deliberately NOT here: calibration against the
# reference's path goldens shows Brackets treats them as not-phrasing-
# permitting (every <a> counts as markup), which is what demotes
# link-farm widget containers.
PERMITS_PHRASING = frozenset(
    """
    abbr address article aside b bdi bdo blockquote body button
    caption center cite code data dd details dfn dialog div dt em
    fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header hgroup i
    kbd label legend li listing main mark marquee menu meter nav nobr
    option output p pre progress q rb rt rtc ruby s samp section
    slot small span strong sub summary sup td th time u var
    noscript noframes font tt big strike acronym
    """.split()
)


# ---------------------------------------------------------------------------
# tokenizer (FuzzyCompare-equivalent: category runs over the text)
# ---------------------------------------------------------------------------


def count_tokens(text: str) -> tuple:
    """(total, words, numbers, puncts). Alphanumeric runs form one token
    (word if it contains any letter, number if pure digits); punctuation is
    one token per char; whitespace runs are single non-content tokens —
    the blend that best matches the reference's elected-path goldens."""
    total = words = numbers = puncts = 0
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch.isspace():
            j = i
            while j < n and text[j].isspace():
                j += 1
            total += 1
            i = j
            continue
        c0 = unicodedata.category(ch)[0]
        if c0 in "LMN":
            j = i
            has_alpha = False
            while j < n:
                cj = unicodedata.category(text[j])[0]
                if cj not in "LMN":
                    break
                if cj in "LM":
                    has_alpha = True
                j += 1
            total += 1
            if has_alpha:
                words += 1
            else:
                numbers += 1
            i = j
            continue
        total += 1
        if c0 == "P":
            puncts += 1
        i += 1
    return total, words, numbers, puncts


# ---------------------------------------------------------------------------
# element helpers
# ---------------------------------------------------------------------------

def is_probably_hidden(el: Element) -> bool:
    """ElementExtensions.IsProbablyHidden semantics."""
    if not el.attrs:
        return False
    style = el.get_attr("style")
    if style:
        for prop, value in iter_declarations(style):
            if prop == "display" and value == "none":
                return True
            if prop == "visibility" and value == "hidden":
                return True
    if el.has_attr("hidden"):
        return True
    if (el.get_attr("aria-hidden") or "") == "true":
        return True
    if "hidden" in el.class_list():
        return True
    if (el.get_attr("type") or "") == "hidden":
        return True
    return False


def nesting_level(el: Element) -> int:
    """Depth of the element (document root children = level 1)."""
    level = 0
    node: Optional[Element] = el
    while node is not None and node.tag != "#document":
        level += 1
        node = node.parent
    return level


def candidate_path(el: Optional[Element]) -> str:
    """Reference GetPath (ElementExtensions.cs:31-60): bare ancestor tag
    names up to (exclusive) body/head/html; id/@name/[class] on the leaf
    only; body itself → '/'."""
    if el is None or el.tag == "body":
        return "/"
    segs = [el.tag]
    parent = el.parent
    while parent is not None and parent.tag not in ("body", "head", "html", "#document"):
        segs.append(parent.tag)
        parent = parent.parent
    path = "/" + "/".join(reversed(segs))
    if el.id:
        path += "#" + el.id
    name = el.get_attr("name")
    if name:
        path += "@" + name
    # Brackets stores attribute values raw except for a trim: the goldens
    # show interior whitespace preserved (SampleTests.cs lifehacker
    # 'entry-content  new-annotation' keeps its double space) while
    # leading/trailing whitespace never appears. Control whitespace maps to
    # plain spaces (a C# string literal golden can't hold a raw newline).
    import re as _re

    klass = _re.sub(r"[\t\n\r\f]", " ", el.get_attr("class") or "").strip()
    if klass:
        path += "[" + klass + "]"
    return path


def _iter_elements(root: Element) -> Iterator[Element]:
    stack = list(reversed([c for c in root.children if c.is_element]))
    while stack:
        node = stack.pop()
        yield node
        kids = [c for c in node.children if c.is_element]
        stack.extend(reversed(kids))


def _child_nodes(el: Element) -> list:
    """Child nodes as the reference's parser sees them: whitespace-only text
    between elements is not materialized as content."""
    out = []
    for c in el.children:
        if c.is_text and not c.data.strip():
            continue
        out.append(c)
    return out


def _is_metadata_or_script(el: Element) -> bool:
    return el.tag in METADATA_TAGS or el.tag in SCRIPT_TAGS


# ---------------------------------------------------------------------------
# scoring (TryCountTokens / CountMarkup / element factors)
# ---------------------------------------------------------------------------

# calibration switches (resolved against the reference's own path goldens;
# see scripts/calibrate_tokenfinder.py)
SINGLE_CHILD_MODE = "any"  # "any" | "text" | "element"


def _has_one_child(el: Element) -> bool:
    kids = _child_nodes(el)
    if SINGLE_CHILD_MODE == "text":
        return len(kids) == 1 and kids[0].is_text
    if SINGLE_CHILD_MODE == "element":
        return len(kids) == 1 and kids[0].is_element
    if SINGLE_CHILD_MODE == "leaf":
        return len(kids) == 1 and (
            kids[0].is_text or (kids[0].is_element and not _child_nodes(kids[0]))
        )
    return len(kids) == 1


class _Precomp:
    """One bottom-up pass over the document computing, per element: direct
    text token counts, subtree token counts (metadata/script subtrees
    excluded), and subtree markup counts — so scoring every block candidate
    is O(N) total instead of O(N^2) re-walks (the finder runs inside the
    per-document Spark UDF; big crawl pages have 10k+ block elements)."""

    __slots__ = ("direct", "agg", "markup_sub", "non_content")

    def __init__(self, root: Element) -> None:
        self.direct: dict = {}
        self.agg: dict = {}
        self.markup_sub: dict = {}
        self.non_content: dict = {}
        # iterative post-order
        stack = [(root, False)]
        while stack:
            el, done = stack.pop()
            if not done:
                stack.append((el, True))
                for c in el.children:
                    if c.is_element:
                        stack.append((c, False))
                continue
            dt = dw = dn = dp = 0
            for c in el.children:
                if c.is_text:
                    t, w, n, p = count_tokens(c.data)
                    dt += t
                    dw += w
                    dn += n
                    dp += p
            self.direct[id(el)] = (dt, dw, dn, dp)
            at, aw, an, ap = dt, dw, dn, dp
            msub = 0
            for c in el.children:
                if c.is_element:
                    if not _is_metadata_or_script(c):
                        ct, cw, cn, cp = self.agg[id(c)]
                        at += ct
                        aw += cw
                        an += cn
                        ap += cp
                    nc = _is_non_content_element(c)
                    self.non_content[id(c)] = nc
                    msub += self.markup_sub[id(c)] + (1 if nc else 0)
            self.agg[id(el)] = (at, aw, an, ap)
            self.markup_sub[id(el)] = msub


def try_count_tokens(el: Element, pre: "Optional[_Precomp]" = None) -> Optional[tuple]:
    """(token_count, token_density) or None (ArticleCandidate.cs:334-419)."""
    if _has_one_child(el):
        return None
    if is_probably_hidden(el):
        return None
    if _is_metadata_or_script(el):
        return None

    # direct content
    if pre is not None:
        total, words, numbers, puncts = pre.direct[id(el)]
    else:
        total = words = numbers = puncts = 0
        for c in el.children:
            if c.is_text:
                t, w, n, p = count_tokens(c.data)
                total += t
                words += w
                numbers += n
                puncts += p
    if total > 0 and puncts < (words + numbers):
        token_count = words + numbers + puncts
        if token_count / total > 0:
            # elements with direct content are leaves, not containers
            return None

    # all content
    if pre is not None:
        total, words, numbers, puncts = pre.agg[id(el)]
    else:
        total = words = numbers = puncts = 0
        stack = [el]
        while stack:
            node = stack.pop()
            for c in node.children:
                if c.is_text:
                    t, w, n, p = count_tokens(c.data)
                    total += t
                    words += w
                    numbers += n
                    puncts += p
                elif c.is_element and not _is_metadata_or_script(c):
                    stack.append(c)
                # metadata/script subtrees contribute nothing
    if total == 0 or puncts >= (words + numbers):
        return None
    token_count = words + numbers + puncts
    return token_count, token_count / total


def _is_non_content_element(el: Element) -> bool:
    if (
        el.tag not in PERMITS_PHRASING
        or el.tag in METADATA_TAGS
        or el.tag in SCRIPT_TAGS
        or el.tag in FORM_TAGS
    ):
        return True
    # truly childless elements (<span></span> icon holders, empty divs) are
    # scaffolding — calibration: +7 reference goldens
    if not el.children:
        return True
    kids = [c for c in _child_nodes(el) if c.is_element]
    if kids:
        return all(
            k.tag not in PERMITS_PHRASING
            and (
                k.tag not in PHRASING_TAGS
                or k.tag in METADATA_TAGS
                or k.tag in SCRIPT_TAGS
                or k.tag in FORM_TAGS
            )
            for k in kids
        )
    return False


def count_markup(el: Element, pre: "Optional[_Precomp]" = None) -> int:
    if pre is not None:
        own = pre.non_content.get(id(el))
        if own is None:
            own = _is_non_content_element(el)
        return pre.markup_sub[id(el)] + (1 if own else 0)
    n = 1 if _is_non_content_element(el) else 0
    for d in _iter_elements(el):
        if _is_non_content_element(d):
            n += 1
    return n


KNOWN_ELEMENT_FACTORS = {
    "article": 1.2,
    "section": 1.2,
    "div": 1.1,
    "main": 1.1,
    "pre": 0.9,
    "table": 0.9,
    "tbody": 0.9,
    "tr": 0.9,
    "td": 0.9,
    "ol": 0.8,
    "ul": 0.8,
    "dl": 0.8,
    "blockquote": 0.7,
    "dd": 0.7,
    "dt": 0.7,
    "li": 0.7,
    "form": 0.6,
    "address": 0.6,
    "p": 0.5,
    "h1": 0.5,
    "h2": 0.5,
    "h3": 0.5,
    "h4": 0.5,
    "h5": 0.5,
    "h6": 0.5,
    "hgroup": 0.5,
    "header": 0.5,
    "footer": 0.5,
}

POSITIVE_NAMES = (
    "article", "body", "content", "entry", "hentry", "h-entry", "main",
    "page", "pagination", "post", "text", "blog", "story",
)

NEGATIVE_NAMES = (
    "-ad-", "hidden", "hid", "banner", "combx", "comment", "com-", "contact",
    "foot", "footer", "footnote", "gdpr", "masthead", "media", "meta",
    "outbrain", "promo", "related", "scroll", "share", "shoutbox", "sidebar",
    "skyscraper", "sponsor", "shopping", "tags", "tool", "widget",
)


def _name_weight(values: str) -> float:
    weight = 0.0
    tokens = values.split()
    for tok in tokens:
        low = tok.lower()
        if any(neg in low for neg in NEGATIVE_NAMES):
            weight -= 0.1
            break
    for tok in tokens:
        low = tok.lower()
        if any(pos in low for pos in POSITIVE_NAMES):
            weight += 0.1
            break
    return weight


def _element_weight(el: Element) -> float:
    w = 0.0
    for attr in ("class", "id", "name"):
        v = el.get_attr(attr)
        if v:
            w += _name_weight(v)
    return w


def _single_element_factor(el: Element) -> float:
    level = 0
    actual = el
    while _has_one_child(actual):
        kids = _child_nodes(actual)
        if kids and kids[0].is_element:
            actual = kids[0]
            level += 1
        else:
            break
    factor = KNOWN_ELEMENT_FACTORS.get(actual.tag, 1.0)
    factor += _element_weight(actual)
    if level > 0:
        factor -= 0.1 * (level + 1)
    return factor


def element_factor(el: Element, document_root: Element) -> float:
    factor = _single_element_factor(el)
    parent = el.parent
    while parent is not None and parent is not document_root:
        factor *= _single_element_factor(parent)
        parent = parent.parent
    return factor


# ---------------------------------------------------------------------------
# candidates + election (TryCreate / TryFind)
# ---------------------------------------------------------------------------

class Candidate:
    __slots__ = ("root", "token_count", "content_score", "offset", "level")

    def __init__(self, root, token_count, content_score, offset, level):
        self.root = root
        self.token_count = token_count
        self.content_score = content_score
        self.offset = offset
        self.level = level

    @property
    def path(self) -> str:
        return candidate_path(self.root)

    def compare_to(self, other: "Candidate") -> int:
        """Ratio comparator (ArticleCandidate.CompareTo). C# float division
        by zero yields infinity, never an exception — mirror that."""
        token_ratio = (
            self.token_count / float(other.token_count) if other.token_count else math.inf
        )
        score_ratio = (
            self.content_score / other.content_score if other.content_score else math.inf
        )
        if token_ratio < 0.8 or score_ratio < 0.5:
            return -1
        if token_ratio > 0.8 and score_ratio > 0.5:
            return 1
        return 0


def try_create(
    el: Element,
    document_root: Element,
    offset: int,
    pre: "Optional[_Precomp]" = None,
) -> Optional[Candidate]:
    counted = try_count_tokens(el, pre)
    if counted is None:
        return None
    token_count, token_density = counted
    markup_count = count_markup(el, pre)
    factor = element_factor(el, document_root)
    if token_count > markup_count and (markup_count > 0 or factor > 1.0):
        level = nesting_level(el)
        denom = markup_count + math.log2(token_count)
        # C# float semantics: x / 0f == +Infinity (tokens=1, markup=0)
        base = token_count / denom if denom != 0 else math.inf
        score = base * token_density * factor * math.log(level)
        return Candidate(el, token_count, score, offset, level)
    return None


def _median_token_count(cands: list) -> int:
    """Median over TokenCountComparer order (tokens asc; parent/child and
    nesting-desc tiebreaks)."""
    import functools

    def cmp(x: Candidate, y: Candidate) -> int:
        if x.token_count != y.token_count:
            return -1 if x.token_count < y.token_count else 1
        if x.root.parent is not y.root.parent:
            if x.root.parent is y.root:
                return 1
            if y.root.parent is x.root:
                return -1
            return -1 if y.level < x.level else (1 if y.level > x.level else 0)
        return 0

    ordered = sorted(cands, key=functools.cmp_to_key(cmp))
    n = len(ordered)
    mid = n // 2
    if n % 2 != 0:
        return ordered[mid].token_count
    return (ordered[mid - 1].token_count + ordered[mid].token_count) // 2


def find_article_candidate(
    doc: Element, top_candidate_count: int = DEFAULT_TOP_CANDIDATES
) -> Optional[Candidate]:
    """ArticleCandidate.TryFind: score all block parents, reconcile the
    top-K through the ancestry cascade, return the winner (or None)."""
    import heapq

    document_root = doc
    if not (doc.tag == "html"):
        for el in _iter_elements(doc):
            if el.tag == "html":
                document_root = el
                break

    # score every block-level parent element, keep top-K in a bounded heap
    pre = _Precomp(document_root)
    candidates: dict = {}
    heap: list = []  # (score, seq, Candidate) min-heap of size K
    seq = 0
    for offset, el in enumerate(_iter_elements(document_root)):
        if el.tag not in BLOCK_TAGS:
            continue
        if not _child_nodes(el):
            continue
        cand = try_create(el, document_root, offset, pre)
        if cand is None:
            continue
        candidates[id(el)] = cand
        if len(heap) < top_candidate_count:
            heapq.heappush(heap, (cand.content_score, seq, cand))
        elif cand.content_score > heap[0][0]:
            heapq.heappushpop(heap, (cand.content_score, seq, cand))
        seq += 1
    if not heap:
        return None

    # dequeue in ascending score order (matches the reference's PQ drain)
    drain = [heapq.heappop(heap) for _ in range(len(heap))]
    ancestry_count = 0
    max_ancestry_count = 0
    article: Optional[Candidate] = None
    top_list: list = []  # Candidates
    common_ancestors: dict = {}  # id(el) -> [el, count]
    for _score, _seq, cand in drain:
        parent = cand.root.parent
        while parent is not None and parent is not document_root:
            entry = common_ancestors.get(id(parent))
            if entry is None:
                common_ancestors[id(parent)] = [parent, 1]
            else:
                entry[1] += 1
            parent = parent.parent
        top_list.append(cand)
        if article is not None and cand.root.parent is article.root:
            ancestry_count += 1
            if ancestry_count > max_ancestry_count:
                max_ancestry_count = ancestry_count
        else:
            ancestry_count = 0
        article = cand

    # SortedList order: score desc, offset desc
    top_sorted = sorted(top_list, key=lambda c: (-c.content_score, -c.offset))
    top_roots = {id(c.root) for c in top_list}
    topmost = top_sorted[0]
    ancestry_threshold = (top_candidate_count // 2) + (top_candidate_count % 2)

    if max_ancestry_count / float(ancestry_threshold) < 0.6 and (
        ancestry_count == 0 or ancestry_count != max_ancestry_count
    ):
        # top candidates mostly unrelated: walk their common ancestors
        found_relevant = False
        mid_tokens = _median_token_count(top_list)
        max_tokens = max(c.token_count for c in top_list)
        ordered_ancestors = sorted(
            common_ancestors.values(),
            key=lambda e: (e[1], -nesting_level(e[0])),
        )
        for ancestor, reoccurrence in ordered_ancestors:
            anc_cand = candidates.get(id(ancestor))
            if anc_cand is None:
                continue
            if found_relevant:
                continue
            is_top = id(ancestor) in top_roots
            maybe_relevant = (
                (reoccurrence == top_candidate_count and not is_top)
                or (
                    reoccurrence > ancestry_threshold
                    and anc_cand.token_count >= max_tokens
                )
                or (
                    reoccurrence == ancestry_threshold
                    and ((is_top and max_ancestry_count > 0) or ancestor is topmost.root)
                )
                or (
                    reoccurrence < ancestry_threshold
                    and ancestor is topmost.root
                    and anc_cand.token_count >= mid_tokens
                )
            )
            if maybe_relevant and anc_cand.compare_to(article) >= 0:
                article = anc_cand
                found_relevant = True
    else:
        outlier = _find_outlier(list(candidates.values()))
        if outlier is not None:
            article = outlier
        elif ancestry_count / float(ancestry_threshold) > 0.6:
            # too many parents: first grandparent among the top candidates
            grandparent = top_sorted[ancestry_count]
            if article.compare_to(grandparent) <= 0:
                article = grandparent
        elif sum(1 for c in top_list if c.level == topmost.level) > 1:
            same_level = [c for c in top_list if c.level == topmost.level]
            for anc in top_sorted:
                if id(anc.root) not in {id(e) for e, _ in common_ancestors.values()}:
                    continue
                if all(_contains(anc.root, c.root) for c in same_level):
                    article = anc
                    break
    return article


def _contains(ancestor: Element, el: Element) -> bool:
    node = el
    while node is not None:
        if node is ancestor:
            return True
        node = node.parent
    return False


def _find_outlier(cands: list) -> Optional[Candidate]:
    """HasOutlier: distinct token counts desc; a >85% drop marks the outlier."""
    import functools

    def cmp(x: Candidate, y: Candidate) -> int:
        if x.token_count != y.token_count:
            return -1 if x.token_count < y.token_count else 1
        if x.root.parent is not y.root.parent:
            if x.root.parent is y.root:
                return 1
            if y.root.parent is x.root:
                return -1
            return -1 if y.level < x.level else (1 if y.level > x.level else 0)
        return 0

    ordered = sorted(cands, key=functools.cmp_to_key(cmp), reverse=True)
    seen = set()
    distinct = []
    for c in ordered:
        if c.token_count not in seen:
            seen.add(c.token_count)
            distinct.append(c)
    last = len(distinct) - 1
    if last > 1:
        for i in range(last):
            if distinct[i + 1].token_count / float(distinct[i].token_count) < 0.15:
                return distinct[i]
    return None


def find_article_path(html, top_candidate_count: int = DEFAULT_TOP_CANDIDATES) -> Optional[str]:
    """Parse + find; returns the elected candidate's path string or None
    (the observable the reference's path-golden tests assert)."""
    from readability_spark.dom.parser import parse_html

    doc = parse_html(html)
    cand = find_article_candidate(doc, top_candidate_count)
    return cand.path if cand is not None else None
